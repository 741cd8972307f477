package graft.app

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CurationRunnerSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs =
    graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "documents")

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("graft-curation").toString

  test("full curation run: every stage succeeds, counts narrow " +
      "monotonically, invariants hold on the stored artifacts") {
    val out = freshDir()
    val report = CurationRunner.run(spark, docs, out,
      tokenBudgets = Map("src1" -> 200L), defaultBudget = 400L)
    assert(report.status === "success")
    assert(report.results.map(_.stage) ===
      Seq("quality", "boilerplate", "clean", "corpus", "perplexity",
        "tokenizer", "mix", "split", "packed"))
    // each stage's footer-counted records equal a scan of what it stored
    report.results.foreach { r =>
      assert(r.records === spark.read.parquet(s"$out/${r.stage}").count(),
        s"stage ${r.stage}")
    }
    // the funnel narrows: quality ⊇ boilerplate ⊇ clean ⊇ corpus ⊇
    // perplexity = tokenizer ⊇ mix = split
    assert(report.count("quality") >= report.count("boilerplate"))
    assert(report.count("boilerplate") >= report.count("clean"))

    // the boilerplate stage really rewrote: the stored tile-key
    // artifact only holds >= minDf tiles, and any rewritten doc can
    // only have LOST tokens relative to its quality-stage self
    val tileKeys = spark.read.parquet(s"$out/artifacts/boilerplate_tiles")
    assert(tileKeys.filter(col("df") < 3).count() === 0)
    val qualityToks = spark.read.parquet(s"$out/quality")
      .select(col("doc_id"), col("n_tokens").as("q_tok"))
    val boilToks = spark.read.parquet(s"$out/boilerplate")
      .select(col("doc_id"), col("n_tokens").as("b_tok"))
    assert(boilToks.join(qualityToks, "doc_id")
      .filter(col("b_tok") > col("q_tok")).count() === 0)

    // the pagerank audit frame covers exactly the edge-bearing docs
    val prFrame = spark.read.parquet(s"$out/artifacts/pagerank")
    val edgeIds = spark.read.parquet(s"$out/artifacts/edges")
      .select(col("a_id").as("id"))
      .unionByName(spark.read.parquet(s"$out/artifacts/edges")
        .select(col("b_id").as("id"))).distinct()
    assert(prFrame.count() === edgeIds.count())
    assert(prFrame.filter(col("pagerank") <= 0).count() === 0)

    assert(report.count("clean") >= report.count("corpus"))
    assert(report.count("corpus") >= report.count("perplexity"))
    assert(report.count("perplexity") === report.count("tokenizer"))
    assert(report.count("tokenizer") >= report.count("mix"))
    assert(report.count("mix") === report.count("split"))
    assert(report.count("corpus") > 0)
    assert(report.count("perplexity") > 0)

    // the tokenizer stage stored a rank-ordered merge table and
    // re-metered n_tokens in BPE tokens (each word >= 1 token, so BPE
    // counts are never below the whitespace word count)
    val mergesA = spark.read.parquet(s"$out/artifacts/bpe_merges")
    assert(mergesA.count() > 0)
    assert(mergesA.select("rank").distinct().count() === mergesA.count())
    val tokFrame = spark.read.parquet(s"$out/tokenizer")
      .select(col("doc_id"), col("n_tokens").as("bpe_tok"))
    val wsFrame = spark.read.parquet(s"$out/perplexity")
      .select(col("doc_id"),
        graft.functions.TextAnalysis.tokenCount(col("text")).cast("long")
          .as("ws_tok"))
    assert(tokFrame.join(wsFrame, "doc_id")
      .filter(col("bpe_tok") < col("ws_tok")).count() === 0)

    // the LM artifacts are real count frames a downstream ingest gate
    // could score against: positive counts, bigram mass <= unigram mass
    val uniA = spark.read.parquet(s"$out/artifacts/lm_unigrams")
    val biA = spark.read.parquet(s"$out/artifacts/lm_bigrams")
    assert(uniA.filter(col("cnt") <= 0).count() === 0)
    assert(biA.filter(col("cnt") <= 0).count() === 0)
    val uniMass = uniA.agg(sum("cnt")).head.getLong(0)
    val biMass = biA.agg(sum("cnt")).head.getLong(0)
    assert(biMass < uniMass) // one fewer bigram than tokens per doc

    val corpus = spark.read.parquet(s"$out/corpus")
    // benchmark docs never reach the corpus
    assert(corpus.filter(col("source") === "src0").count() === 0)
    // no doc kept twice, every kept doc has a reason
    assert(corpus.select("doc_id").distinct().count() === corpus.count())
    assert(corpus.select("kept_reason").distinct().as[String].collect()
      .toSet.subsetOf(Set("singleton", "canonical")))

    // decontamination really dropped the shared-gram docs: nothing in
    // clean shares a 5-gram with the bench set (exact re-check)
    val clean = spark.read.parquet(s"$out/clean")
    val recheck = graft.operators.Corpus.decontaminate(clean,
        docs.filter(col("source") === "src0"), col("doc_id"), col("text"))
      .filter(col("n_shared") > 0)
    assert(recheck.count() === 0)

    // mixing respected the per-source quotas
    val mix = spark.read.parquet(s"$out/mix")
    val bySource = mix.groupBy("source")
      .agg(max("cum_tokens").as("consumed"))
      .as[(String, Long)].collect().toMap
    bySource.foreach { case (src, consumed) =>
      val budget = if (src == "src1") 200L else 400L
      assert(consumed <= budget, s"$src consumed $consumed > $budget")
    }

    // leakage safety: no stored near-dup edge spans train and eval
    val split = spark.read.parquet(s"$out/split").select("doc_id", "split")
    val edges = spark.read.parquet(s"$out/artifacts/edges")
    val spanning = edges
      .join(split.withColumnRenamed("doc_id", "a_id")
        .withColumnRenamed("split", "sa"), "a_id")
      .join(split.withColumnRenamed("doc_id", "b_id")
        .withColumnRenamed("split", "sb"), "b_id")
      .filter(col("sa") =!= col("sb"))
    assert(spanning.count() === 0)

    // packing covers exactly the train split and conserves token mass
    val packed = spark.read.parquet(s"$out/packed")
    val train = split.filter(col("split") === "train")
    assert(packed.count() === train.count())
    val packedMass = packed.agg(sum("n_tok")).as[Long].head
    val trainMass = spark.read.parquet(s"$out/split")
      .filter(col("split") === "train").agg(sum("n_tokens")).as[Long].head
    assert(packedMass === trainMass)

    // sync log records the same stages and counts
    val log = spark.read.parquet(s"$out/sync_log")
      .select("stage", "status", "records")
      .as[(String, String, Long)].collect().toMap2
    report.results.foreach { r =>
      assert(log(r.stage) === (r.status, r.records))
    }
  }

  test("byteLevelTokenizer: budgets meter GPT-2-lineage byte-level " +
      "tokens; stored merges drive the encoder exactly") {
    val out = freshDir()
    val report = CurationRunner.run(spark, docs, out,
      byteLevelTokenizer = true)
    assert(report.status === "success")
    assert(report.count("tokenizer") > 0)
    // the stored merge table replayed through the byte-level encoder
    // reproduces the stage's own n_tokens column bit-for-bit
    val stored = spark.read.parquet(s"$out/artifacts/bpe_merges")
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(stored.nonEmpty)
    val tok = spark.read.parquet(s"$out/tokenizer")
    assert(tok.filter(
      size(graft.operators.Bpe.encodeByteLevel(col("text"), stored))
        .cast("long") =!= col("n_tokens")).count() === 0)
    // byte-level pretokens preserve case and attach the leading space,
    // so token counts are >= the pretoken count and every token
    // concatenation is a lossless segmentation of the mapped text
    assert(tok.filter(col("n_tokens") <
      size(graft.operators.Bpe.byteLevelWords(col("text")))).count() === 0)
    // and the mix stage metered THESE tokens (cum_tokens consistent)
    val mix = spark.read.parquet(s"$out/mix")
    assert(mix.join(tok.select(col("doc_id"), col("n_tokens").as("t_tok")),
      "doc_id").filter(col("n_tokens") =!= col("t_tok")).count() === 0)
  }

  test("lmKeep: NULL avg_nll (token-less doc) is KEPT, scored outliers " +
      "drop — the scoreNll NULL contract is policy, not accident") {
    val scored = Seq(
      (1L, Some(2.5)),   // in-domain → keep
      (2L, Some(9.0)),   // outlier → drop
      (3L, None)         // nothing to score → keep
    ).toDF("id", "avg_nll")
    val kept = scored.filter(CurationRunner.lmKeep(maxNll = 4.0))
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 3L))
  }

  test("resume = true reads stored stages back instead of recomputing; " +
      "a missing late artifact recomputes only from there") {
    val out = freshDir()
    val r1 = CurationRunner.run(spark, docs, out)
    assert(r1.status === "success")
    // full resume: every stage cached, counts identical
    val r2 = CurationRunner.run(spark, docs, out, resume = true)
    assert(r2.results.map(_.status).forall(_ == "cached"))
    assert(r2.results.map(r => (r.stage, r.records)) ===
      r1.results.map(r => (r.stage, r.records)))
    r2.results.foreach { r =>
      assert(r.records === spark.read.parquet(s"$out/${r.stage}").count(),
        s"stage ${r.stage}")
    }
    // simulate a crash after 'mix': split/packed artifacts gone
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf)
      p.delete(); ()
    }
    rmrf(new java.io.File(s"$out/split"))
    rmrf(new java.io.File(s"$out/packed"))
    val r3 = CurationRunner.run(spark, docs, out, resume = true)
    val statuses = r3.results.map(r => r.stage -> r.status).toMap
    assert(Seq("quality", "boilerplate", "clean", "corpus", "mix")
      .forall(statuses(_) == "cached"))
    assert(statuses("split") === "success" && statuses("packed") === "success")
    assert(r3.results.map(r => (r.stage, r.records)) ===
      r1.results.map(r => (r.stage, r.records)))
  }

  test("erase removes the subjects from every stage frame and every " +
      "dedup artifact; everyone else survives") {
    val out = freshDir()
    assert(CurationRunner.run(spark, docs, out).status === "success")
    // subjects: one doc with near-dup edges (from the stored edge table)
    // plus one arbitrary corpus doc
    val edgeDoc = spark.read.parquet(s"$out/artifacts/edges")
      .select("a_id").as[Long].head
    val anyDoc = spark.read.parquet(s"$out/corpus")
      .select("doc_id").as[Long].head
    val subjects = Seq(edgeDoc, anyDoc).distinct
    val before = Seq("quality", "boilerplate", "clean", "corpus",
      "perplexity", "tokenizer", "mix",
      "split", "packed", "artifacts/signatures", "artifacts/edges",
      "artifacts/labels", "artifacts/pagerank")
      .map(n => n -> spark.read.parquet(s"$out/$n").count()).toMap
    val rep = CurationRunner.erase(spark, out, subjects)
    assert(rep.total > 0)
    before.keys.foreach { n =>
      val frame = spark.read.parquet(s"$out/$n")
      assert(frame.count() === before(n) - rep.deleted(n), s"count at $n")
      val idCol = n match {
        case "artifacts/edges" => null
        case s if s.startsWith("artifacts/") => "id"
        case "packed" => "id"
        case _ => "doc_id"
      }
      if (idCol != null)
        assert(frame.filter(col(idCol).isin(subjects: _*)).count() === 0L,
          s"subject survived in $n")
      else
        assert(frame.filter(col("a_id").isin(subjects: _*) ||
          col("b_id").isin(subjects: _*)).count() === 0L,
          "subject edge survived")
    }
    // the edge-bearing subject really had artifact rows to erase
    assert(rep.deleted("artifacts/edges") > 0)
    assert(rep.deleted("artifacts/signatures") >= subjects.size - 1)
  }

  test("dsirTarget adds the select stage: quota honored, weight-ordered " +
      "enrichment, ratio artifact stored, deterministic") {
    val out = freshDir()
    val report = CurationRunner.run(spark, docs, out,
      dsirTarget = Some("src0"), dsirKeepFraction = 0.5, dsirBuckets = 512)
    assert(report.status === "success")
    assert(report.results.map(_.stage).contains("select"))
    val nPool = report.count("perplexity")
    val nKept = report.count("select")
    assert(nKept === math.ceil(nPool * 0.5).toLong)
    assert(report.count("tokenizer") === nKept)
    // the stored ratio model covers the full bucket domain
    assert(spark.read.parquet(s"$out/artifacts/dsir_ratio").count() === 512L)
    // kept docs carry their weight; the draw favors heavy docs — mean
    // kept log_w must exceed the pool mean (w-proportional sampling)
    val kept = spark.read.parquet(s"$out/select")
      .select(col("doc_id"), col("log_w"))
    val ratio = spark.read.parquet(s"$out/artifacts/dsir_ratio")
    val pool = graft.operators.Dsir.importanceWeights(
      spark.read.parquet(s"$out/perplexity"), col("doc_id"), col("text"),
      ratio, 512)
    val poolMean = pool.agg(avg("log_w")).head.getDouble(0)
    val keptMean = kept.agg(avg("log_w")).head.getDouble(0)
    assert(keptMean > poolMean,
      s"kept mean $keptMean not above pool mean $poolMean")
    // determinism: a second run keeps the identical doc set
    val out2 = freshDir()
    CurationRunner.run(spark, docs, out2,
      dsirTarget = Some("src0"), dsirKeepFraction = 0.5, dsirBuckets = 512)
    val k1 = kept.select("doc_id").as[Long].collect().toSet
    val k2 = spark.read.parquet(s"$out2/select")
      .select("doc_id").as[Long].collect().toSet
    assert(k1 === k2)
  }

  test("re-run over the same outDir is idempotent (stage overwrite)") {
    val out = freshDir()
    val r1 = CurationRunner.run(spark, docs, out)
    val corpus1 = spark.read.parquet(s"$out/corpus")
      .select("doc_id").as[Long].collect().toSet
    val r2 = CurationRunner.run(spark, docs, out)
    val corpus2 = spark.read.parquet(s"$out/corpus")
      .select("doc_id").as[Long].collect().toSet
    assert(r1.status === "success" && r2.status === "success")
    assert(corpus1 === corpus2)
    assert(r1.results.map(r => (r.stage, r.records)) ===
      r2.results.map(r => (r.stage, r.records)))
  }

  test("erase survives a bad target: empty dir reports 0, an unreadable " +
      "dir lands in failed, every other frame still rewrites") {
    val out = freshDir()
    assert(CurationRunner.run(spark, docs, out).status === "success")
    val subject = spark.read.parquet(s"$out/corpus")
      .select("doc_id").as[Long].head
    // simulate a failed stage write: `mix` becomes an EMPTY dir (no
    // data files), `split` holds one garbage non-parquet data file
    def rmrf(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rmrf)
      p.delete()
    }
    rmrf(new java.io.File(s"$out/mix"))
    assert(new java.io.File(s"$out/mix").mkdirs())
    rmrf(new java.io.File(s"$out/split"))
    assert(new java.io.File(s"$out/split").mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/split/part-00000.parquet"),
      "not a parquet file".getBytes)
    val rep = CurationRunner.erase(spark, out, Seq(subject))
    // the empty dir trivially holds no subject rows
    assert(rep.deleted("mix") === 0L)
    // the unreadable dir is REPORTED, not thrown
    assert(!rep.complete && rep.failed.keySet === Set("split"))
    // every readable frame was still physically rewritten
    assert(rep.deleted.keySet.contains("corpus"))
    assert(spark.read.parquet(s"$out/corpus")
      .filter(col("doc_id") === subject).count() === 0L)
    assert(spark.read.parquet(s"$out/quality")
      .filter(col("doc_id") === subject).count() === 0L)
  }

  private implicit class Map2Ops(rows: Array[(String, String, Long)]) {
    def toMap2: Map[String, (String, Long)] =
      rows.map { case (a, b, c) => a -> (b, c) }.toMap
  }
}
