package graft.app

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{Bpe, Corpus, Dedup, Dsir, NgramLm, Sampling, TopK}

/**
 * End-to-end training-corpus curation pipeline — the production
 * composition of the operator families the declared queries gate one at
 * a time: quality gate (q84's bounds) → boilerplate excision (q157's
 * stored-tile-key path, rewriting doc text — the CCNet order: template
 * noise is removed BEFORE contamination/dup decisions so a shared
 * footer can neither contaminate nor glue near-dup clusters) →
 * benchmark decontamination (q133's Bloom path) → near-dup dedup via
 * the materialize-once artifacts (q130, plus the q156 PageRank
 * template-hub audit frame over the stored edges) → bigram-LM
 * perplexity filter (q169's CCNet gate, trained on the deduped corpus,
 * count artifacts stored for ingest-time scoring) → OPTIONAL DSIR
 * domain selection (q194/q195's importance-resampling pass when
 * `dsirTarget` names a trusted source: ratio model stored, Gumbel
 * top-⌈fraction·n⌉ draw) → BPE tokenizer fit
 * (q167's merge-table artifact, trained on the filtered corpus;
 * n_tokens re-derived as real tokenizer tokens) → token-budget
 * mixing (q140, metered in tokenizer tokens) → leakage-safe train/eval
 * split (q124) → sequence packing (q96). Every stage writes
 * its frame to `outDir` (the artifact IS the interface between stages —
 * downstream consumers read parquet, not lineage), and a sync-log
 * records per-stage status/row counts in the [[PipelineRunner]]
 * bookkeeping shape. With `resume = true`, a stage whose committed
 * artifact already exists (`_SUCCESS`) is read back instead of
 * recomputed, so a re-invocation after a mid-pipeline failure skips
 * everything up to the failure point — the LSH+CC dedup pass is the
 * expensive stage you don't want twice.
 *
 * Scale: each stage is one of the audited plans — nothing here adds a
 * shuffle beyond what the per-query gates already account; the chain
 * materializes at stage boundaries by DESIGN (the dedup artifacts and
 * the corpus are multi-consumer frames; recomputing lineage across a
 * 100 TB pipeline is the anti-pattern). Counts come from the written
 * files' parquet footers, not extra scans of upstream or of the stage.
 */
object CurationRunner {

  /** The perplexity stage's keep predicate over `avg_nll`. NULL means
    * "nothing to score" (token-less doc — the scoreNll contract), not a
    * zero, and the policy is KEEP: the LM gate only drops docs it
    * positively scored as outliers; empty docs are the quality stage's
    * concern. Named (not inline) so the NULL branch is unit-testable —
    * inside [[run]] the quality gate's minTokens makes it unreachable,
    * which is exactly why an inline `<=` (which silently drops NULLs)
    * survived review before r14. */
  def lmKeep(maxNll: Double): org.apache.spark.sql.Column =
    col("avg_nll").isNull || col("avg_nll") <= maxNll

  import PipelineRunner.StageResult

  final case class CurationReport(results: Seq[StageResult]) {
    def status: String =
      if (results.exists(_.status == "failed")) "failed" else "success"
    def count(stage: String): Long =
      results.find(_.stage == stage).map(_.records).getOrElse(0L)
  }

  /**
   * `docs` must carry: doc_id, text, lang, source, n_chars (the
   * documents-table shape). Docs from `benchSource` are the held-out
   * benchmark: excluded from the corpus and used as the contamination
   * reference. `tokenBudgets` maps source → token quota for the mixing
   * stage (missing sources get `defaultBudget`).
   */
  def run(spark: SparkSession, docs: DataFrame, outDir: String,
          benchSource: String = "src0",
          minTokens: Int = 25, maxTokens: Int = 80,
          tokenBudgets: Map[String, Long] = Map.empty,
          defaultBudget: Long = 800L,
          evalFraction: Double = 0.1,
          packCapacity: Int = 512,
          maxNll: Double = 4.0,
          dsirTarget: Option[String] = None,
          dsirKeepFraction: Double = 0.5,
          dsirBuckets: Int = 4096,
          byteLevelTokenizer: Boolean = false,
          resume: Boolean = false): CurationReport = {
    require(dsirKeepFraction > 0 && dsirKeepFraction <= 1,
      "dsirKeepFraction must be in (0,1]")
    val results = scala.collection.mutable.ListBuffer[StageResult]()
    def stage(name: String)(body: => DataFrame): Option[DataFrame] = {
      val t0 = System.currentTimeMillis()
      val path = s"$outDir/$name"
      // committed-artifact probe via the Hadoop FileSystem, matching
      // erase() below — outDir may be hdfs://... or s3a://...; a
      // java.io.File check would silently never resume there and the
      // expensive LSH+CC stage would recompute every run
      def committed: Boolean = {
        val p = new org.apache.hadoop.fs.Path(s"$path/_SUCCESS")
        p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
      }
      // records come from the stored files' parquet footers — metadata
      // reads, no count() job
      def records = graft.DriverOps.footerRows(
        spark.sessionState.newHadoopConf(), path)
      if (resume && committed) {
        val stored = spark.read.parquet(path)
        results += StageResult(name, "cached", records, t0,
          System.currentTimeMillis())
        return Some(stored)
      }
      try {
        val df = body
        df.write.mode("overwrite").parquet(path)
        // read back with the written schema (made nullable, as Spark's
        // parquet reader returns it): no schema-inference job
        val stored = spark.read
          .schema(org.apache.spark.sql.graftshim.GraftShim.asNullable(df.schema))
          .parquet(path)
        results += StageResult(name, "success", records, t0,
          System.currentTimeMillis())
        Some(stored)
      } catch {
        case e: Exception =>
          results += StageResult(name, "failed", 0, t0,
            System.currentTimeMillis(), String.valueOf(e.getMessage))
          None
      }
    }

    val quality = stage("quality") {
      // q84's token-length bounds; the audit of what dropped stays in
      // the q84 report — here the gate itself
      docs.filter(col("source") =!= benchSource)
        .withColumn("n_tokens",
          TextAnalysis.tokenCount(col("text")).cast("long"))
        .filter(col("n_tokens").between(minTokens, maxTokens))
        .select("doc_id", "text", "lang", "source", "n_chars", "n_tokens")
    }

    val boiler = quality.flatMap { q =>
      stage("boilerplate") {
        // q157's materialize-once shape: the >= minDf template-tile key
        // set is an artifact (downstream ingest gates read it —
        // Streams.boilerplateIngest), the excision is the stored-keys
        // anti join, and docs are REWRITTEN from surviving tiles.
        // Placed before decontamination/dedup (CCNet order): a shared
        // footer must not read as benchmark contamination or as
        // near-dup glue. Token stats recomputed post-rewrite; docs
        // excised below minTokens drop out (they are template shells).
        Corpus.boilerplateTiles(q, col("doc_id"), col("text"),
            spanWords = 10, minDf = 3)
          .write.mode("overwrite")
          .parquet(s"$outDir/artifacts/boilerplate_tiles")
        val storedKeys = spark.read
          .parquet(s"$outDir/artifacts/boilerplate_tiles")
        val rebuilt = Corpus.removeBoilerplateAgainst(q, storedKeys,
            col("doc_id"), col("text"), spanWords = 10)
          .select(col("id").as("doc_id"), col("rebuilt_text"))
        q.drop("text", "n_tokens", "n_chars")
          .join(rebuilt, "doc_id")
          .withColumn("text", col("rebuilt_text"))
          .withColumn("n_chars", length(col("text")).cast("long"))
          .withColumn("n_tokens",
            TextAnalysis.tokenCount(col("text")).cast("long"))
          .filter(col("n_tokens") >= minTokens)
          .select("doc_id", "text", "lang", "source", "n_chars", "n_tokens")
      }
    }

    val clean = boiler.flatMap { q =>
      stage("clean") {
        // q133's scale path: Bloom prefilter + exact confirm; any shared
        // 5-gram with the benchmark is a drop
        val bench = docs.filter(col("source") === benchSource)
        // every row the operator emits is contaminated by construction
        // (n_shared >= 1: the gram join is inner)
        val contaminated = Corpus.decontaminateBloom(q, bench,
            col("doc_id"), col("text"), n = 5)
          .select(col("id").as("doc_id"))
        q.join(contaminated, Seq("doc_id"), "left_anti")
      }
    }

    val corpus = clean.flatMap { c =>
      stage("corpus") {
        // q130: one LSH+CC pass → stored artifacts; corpus = singletons
        // ∪ canonical-per-cluster (longest text, id tiebreak)
        val art = Dedup.nearDupArtifacts(c, col("doc_id"), col("text"),
          shingleSize = 5, numHashes = 16, bands = 8, threshold = 0.25)
        art.signatures.write.mode("overwrite")
          .parquet(s"$outDir/artifacts/signatures")
        art.edges.write.mode("overwrite").parquet(s"$outDir/artifacts/edges")
        art.labels.write.mode("overwrite").parquet(s"$outDir/artifacts/labels")
        // q156's triage signal over the SAME stored edges: template
        // hubs (docs wired to many near-copies or bridging clusters)
        // land in the artifact audit frame for reviewers — not consumed
        // by any downstream stage, erased with the rest
        graft.operators.GraphRank.pageRank(
            spark.read.parquet(s"$outDir/artifacts/edges")
              .select("a_id", "b_id"))
          .write.mode("overwrite").parquet(s"$outDir/artifacts/pagerank")
        val labels = spark.read.parquet(s"$outDir/artifacts/labels")
        val canon = TopK.topKPerGroup(
            labels.join(c.select(col("doc_id").as("id"), col("n_chars")), "id"),
            Seq(col("component")), Seq(col("n_chars").desc, col("id").asc), 1)
          .select(col("id").as("doc_id"), lit("canonical").as("kept_reason"))
        c.join(labels.select(col("id").as("doc_id")), Seq("doc_id"),
            "left_anti")
          .select(col("doc_id"), lit("singleton").as("kept_reason"))
          .unionByName(canon)
          .join(c, "doc_id")
      }
    }

    val lmFiltered = corpus.flatMap { k =>
      stage("perplexity") {
        // q169's CCNet gate, CCNet ORDER (dedup first, then LM filter:
        // a near-dup cluster must not vote its own template text into
        // the model). The LM is trained on the deduped corpus itself
        // (in-domain outlier semantics) and the count artifacts are
        // stored — downstream ingest can score arriving docs against
        // the SAME model without retraining (the boilerplate_tiles
        // discipline). Docs above maxNll nats/token are dropped.
        val uni = NgramLm.unigramCounts(k, col("text"))
        val bi = NgramLm.bigramCounts(k, col("text"))
        uni.write.mode("overwrite").parquet(s"$outDir/artifacts/lm_unigrams")
        bi.write.mode("overwrite").parquet(s"$outDir/artifacts/lm_bigrams")
        val storedUni = spark.read.parquet(s"$outDir/artifacts/lm_unigrams")
        val storedBi = spark.read.parquet(s"$outDir/artifacts/lm_bigrams")
        val keep = NgramLm.scoreNll(k, col("doc_id"), col("text"),
            storedUni, storedBi)
          .filter(lmKeep(maxNll))
          .select(col("id").as("doc_id"))
        k.join(keep, Seq("doc_id"), "left_semi")
      }
    }

    val selected = lmFiltered.flatMap { k =>
      dsirTarget match {
        case None => Some(k) // stage absent: no artifact, no log row
        case Some(tgt) =>
          // the weights checkpoint is released once the stage WRITE has
          // materialized its consumer (the NewtonBoost free() discipline
          // — without this the frame stays pinned in block storage
          // through BPE training, mixing, split and packing)
          var wPinned: Option[DataFrame] = None
          val out = stage("select") {
          // q194/q195's DSIR pass as a pipeline stage: hashed-n-gram
          // bucket models fit on the EXTERNAL trusted sample vs the
          // surviving corpus, the smoothed log-ratio table stored (the
          // lm_* artifact discipline — ingest-time scoring reuses the
          // model without refitting), and a Gumbel top-k draw keeps
          // ceil(fraction·n) docs with probability ∝ importance weight.
          // Runs AFTER dedup + perplexity (selection reweights a clean
          // pool; selecting first would spend the quota on docs later
          // stages delete).
          val target = docs.filter(col("source") === tgt)
          val ratio = Dsir.logRatio(
            Dsir.bucketCounts(target, col("text"), dsirBuckets),
            Dsir.bucketCounts(k, col("text"), dsirBuckets), dsirBuckets)
          ratio.write.mode("overwrite")
            .parquet(s"$outDir/artifacts/dsir_ratio")
          val storedRatio = spark.read.parquet(s"$outDir/artifacts/dsir_ratio")
          // weights materialized ONCE (the explode+join+agg pass is
          // the expensive part); the quota count and the top-k draw
          // both read the pinned frame
          val w = Dsir.importanceWeights(k, col("doc_id"), col("text"),
            storedRatio, dsirBuckets).localCheckpoint(true)
          wPinned = Some(w)
          val keepK = math.ceil(w.count() * dsirKeepFraction).toLong
          require(keepK <= Int.MaxValue,
            s"select quota $keepK exceeds the top-k path; gate on a " +
              "log_w threshold for corpora this large")
          // an empty surviving pool (or all-gram-less docs) must flow
          // through as an empty frame like every other stage, not fail
          // on gumbelTopK's k > 0 contract
          val picked =
            (if (keepK == 0) w
             else Dsir.gumbelTopK(w, col("id"), col("log_w"),
               keepK.toInt, salt = "curation-dsir"))
              .select(col("id").as("doc_id"), col("log_w"))
          k.join(picked, "doc_id")
          }
          wPinned.foreach(
            org.apache.spark.sql.graftshim.GraftShim.freeLocalCheckpoint)
          out
      }
    }

    val tokenized = selected.flatMap { k =>
      stage("tokenizer") {
        // q167's artifact shape for the tokenizer itself: BPE merges
        // trained on the FILTERED corpus (the text the model will
        // actually see), stored rank-ordered, re-read, and applied to
        // re-derive n_tokens as REAL tokenizer tokens — the unit the
        // downstream budgets meter (whitespace counts under-charge
        // rare-word-heavy sources, which BPE splits into subwords).
        // `byteLevelTokenizer` switches to the GPT-2-lineage byte-level
        // trainer/encoder (q200/q201): case-preserving pretokens, no
        // out-of-alphabet sequence on ANY text — the unit a production
        // tokenizer actually produces, so budgets stop drifting on
        // non-ASCII/whitespace-heavy sources; trained via the batched
        // rounds (merges ≫ driver round-trips at real vocab sizes).
        val merges =
          if (byteLevelTokenizer)
            Bpe.trainBatched(Bpe.byteLevelWordCounts(k, col("text")),
              numMerges = 64, batchSize = 16).merges
          else Bpe.train(k, col("text"), numMerges = 64)
        import spark.implicits._
        merges.zipWithIndex.map { case ((a, b), r) => (r, a, b) }
          .toDF("rank", "a", "b")
          .write.mode("overwrite").parquet(s"$outDir/artifacts/bpe_merges")
        val stored = spark.read.parquet(s"$outDir/artifacts/bpe_merges")
          .orderBy("rank").collect()
          .map(r => (r.getString(1), r.getString(2))).toSeq
        k.withColumn("n_tokens",
          (if (byteLevelTokenizer) size(Bpe.encodeByteLevel(col("text"), stored))
           else size(Bpe.encode(col("text"), stored))).cast("long"))
      }
    }

    val mixed = tokenized.flatMap { k =>
      stage("mix") {
        // q140: per-source token quotas in deterministic hash order
        val budget = coalesce(
          element_at(typedLit(tokenBudgets), col("source")),
          lit(defaultBudget))
        Sampling.tokenBudgetFill(k, col("doc_id"), col("source"),
          col("n_tokens"), budget)
      }
    }

    val split = mixed.flatMap { m =>
      stage("split") {
        // q124: eval membership decided by the near-dup COMPONENT hash
        // (read from the stored edges), so no train/eval pair is ever a
        // near-dup of each other
        val edges = spark.read.parquet(s"$outDir/artifacts/edges")
          .select("a_id", "b_id")
        val assignment = Sampling.leakageSafeSplit(m, col("doc_id"), edges,
            evalFraction)
          .select(col("id").as("doc_id"), col("component"), col("split"))
        m.join(assignment, "doc_id")
      }
    }

    split.foreach { sp =>
      stage("packed") {
        // q96: the train split packed per-source into capacity-token
        // training rows
        Corpus.packSequences(sp.filter(col("split") === "train"),
          col("doc_id"), col("source"), col("n_tokens"), packCapacity)
      }
    }

    val report = CurationReport(results.toSeq)
    import spark.implicits._
    report.results.toDF().write.mode("overwrite")
      .parquet(s"$outDir/sync_log")
    report
  }

  /** Per-artifact erasure outcome: rows deleted from each frame, plus
    * any frames whose rewrite failed (message keyed by frame name). A
    * partial erasure — some frames physically rewritten, one target
    * unreadable — is REPORTED, never lost to an exception: the caller
    * decides whether `complete` is required. */
  final case class ErasureReport(deleted: Map[String, Long],
                                 failed: Map[String, String] = Map.empty) {
    def total: Long = deleted.values.sum
    def complete: Boolean = failed.isEmpty
  }

  /**
   * Right-to-erasure across the WHOLE pipeline output: delete the
   * subject docs from every stored stage frame AND every dedup
   * artifact (signatures, edges touching a subject, component labels)
   * in one call — the composition that makes [[graft.sources.Layout.deleteWhere]]
   * a governance answer rather than a per-table tool. Each target is a
   * file-targeted rewrite: untouched files keep their bytes, and a
   * crash mid-erasure self-heals via the shared marker recovery at the
   * next touch of that directory.
   *
   * Erasure is PHYSICAL only: it does not re-run curation. Aggregated
   * derivatives (pack offsets of later docs, quota cum_tokens, census
   * rollups) keep the pre-erasure values — re-run the pipeline when the
   * derived numbers themselves must forget the subject.
   */
  def erase(spark: SparkSession, outDir: String,
            docIds: Seq[Long]): ErasureReport = {
    require(docIds.nonEmpty, "no subjects to erase")
    val byDoc = col("doc_id").isin(docIds: _*)
    val byId = col("id").isin(docIds: _*)
    val byEdge = col("a_id").isin(docIds: _*) ||
      col("b_id").isin(docIds: _*)
    val targets: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "quality" -> byDoc, "boilerplate" -> byDoc, "clean" -> byDoc,
      "corpus" -> byDoc, "perplexity" -> byDoc, "select" -> byDoc,
      "tokenizer" -> byDoc, "mix" -> byDoc, "split" -> byDoc,
      "packed" -> byId, // packSequences emits the key as `id`
      "artifacts/signatures" -> byId,
      "artifacts/edges" -> byEdge,
      "artifacts/labels" -> byId,
      // tile keys are md5 hashes and dsir_ratio is bucket-keyed —
      // no doc rows to erase there; the pagerank audit frame IS
      // doc-keyed
      "artifacts/pagerank" -> byId)
    // existence via the Hadoop FileSystem, not java.io.File — outDir may
    // be hdfs://... or s3a://...; a local-only check would silently
    // no-op the whole erasure there
    val conf = spark.sessionState.newHadoopConf()
    // per-target guard: a failed stage write can leave an empty or
    // unreadable dir; one bad target must not abort the erasure after
    // earlier frames were already physically rewritten. Empty dirs (no
    // data files) trivially hold zero subject rows → recorded as 0;
    // any other per-target failure is accumulated, not thrown.
    val outcomes = targets.flatMap { case (name, pred) =>
      val p = new org.apache.hadoop.fs.Path(s"$outDir/$name")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) None
      else {
        // "empty" means NO data files AND no subdirectories: a
        // partitioned layout (data under day=.../) must fall through to
        // deleteWhere, whose flat-dir check fails LOUDLY into `failed` —
        // classifying it empty would fake a successful erasure
        val children = fs.listStatus(p)
        def visible(st: org.apache.hadoop.fs.FileStatus) =
          !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith(".")
        // hidden/metadata entries (_SUCCESS, _temporary, dot-files)
        // count for NEITHER branch: a crashed write's lone _temporary
        // dir is still an empty target, not a partitioned layout
        val hasData = children.exists(visible)
        if (!hasData) Some(name -> Right(0L))
        else
          try Some(name -> Right(
            graft.sources.Layout.deleteWhere(spark, p.toString, pred)
              .rowsDeleted))
          catch {
            case e: Exception =>
              Some(name -> Left(String.valueOf(e.getMessage)))
          }
      }
    }
    ErasureReport(
      outcomes.collect { case (n, Right(d)) => n -> d }.toMap,
      outcomes.collect { case (n, Left(m)) => n -> m }.toMap)
  }
}
