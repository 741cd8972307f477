package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, HeavyHitters, RangeJoin, Sampling, Sessionize, SimilaritySearch}
import graft.sources.Tables

/**
 * Training-data pipeline operators beyond the dedup/ANN suite (SURVEY
 * §7.5 north star): point-in-time (as-of) joins, deterministic sampling,
 * gap sessionization, IVF coarse-quantizer ANN, and TF-IDF term scoring.
 *
 * Oracle notes: the as-of oracle uses DuckDB's NATIVE `ASOF LEFT JOIN` —
 * an independent implementation of the semantics (not a replay of our
 * union+window plan), so it validates the algorithm, not just the
 * arithmetic. Sampling oracles replay the md5 hash → uniform exactly.
 */
object PipelineQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** micro-precision ts format shared by both engines (events ts values
    * are whole microseconds in the testdata — verified ns%1000=0). */
  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
  private val TsFmtDuck = "%Y-%m-%d %H:%M:%S.%f"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q208_microbatch_batch_twin" -> ((s, dir) => {
      // T2/T3 oracle-gated (VERDICT r15 #6): a REAL micro-batch drain —
      // events staged as three arrival files, streamed with
      // maxFilesPerTrigger=1 under Trigger.AvailableNow
      // (Streams.runAvailableNow, the reference's cron-rerun loop) into
      // the idempotentBatchWriter sink — then a genuine AT-LEAST-ONCE
      // REPLAY: the final batch's commit marker is deleted from the
      // checkpoint and the drain reruns, so Spark re-executes that
      // micro-batch against the already-written sink. The query output
      // is the sink directory read back; the oracle is the ONE-SHOT
      // batch SQL over events (the q139 merged==rebuilt discipline) —
      // an append-mode (non-idempotent) sink would duplicate the
      // replayed batch and miss the oracle's row count.
      import graft.streaming.Streams
      val out = Scratch.path(s, "q208")
      // rerun-safe: bench runs each query twice in one session; stale
      // checkpoints + a fresh overwrite of the input dir would replay
      // everything into extra batch_id generations
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(out), true)
      val ev = t(s, dir, "events")
        .select("event_id", "user_id", "event_type", "value", "ts")
      ev.filter(col("event_id") % 3 === 0).coalesce(1)
        .write.mode("overwrite").parquet(s"$out/in")
      ev.filter(col("event_id") % 3 === 1).coalesce(1)
        .write.mode("append").parquet(s"$out/in")
      ev.filter(col("event_id") % 3 === 2).coalesce(1)
        .write.mode("append").parquet(s"$out/in")
      def drain(): Unit = Streams.runAvailableNow(
        s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", 1).parquet(s"$out/in")
          .writeStream.foreachBatch(
            Streams.idempotentBatchWriter(s"$out/sink", Seq("event_id"))),
        s"$out/ckpt")
      drain()
      // delete the LAST batch's commit marker → the next drain
      // re-executes exactly that micro-batch (at-least-once semantics,
      // forced)
      val commits = new org.apache.hadoop.fs.Path(s"$out/ckpt/commits")
      val last = fs.listStatus(commits).map(_.getPath)
        .filter(_.getName.forall(_.isDigit))
        .maxBy(_.getName.toLong)
      fs.delete(last, false)
      drain()
      s.read.parquet(s"$out/sink")
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), date_format(col("ts"), TsFmt).as("ts"))
        .orderBy("event_id")
    }),

    "q69_asof_join" -> ((s, dir) => {
      // point-in-time join: each purchase ← value of the user's latest
      // click at-or-before the purchase (union+window plan, AsOfJoin
      // scaladoc; oracle = DuckDB native ASOF LEFT JOIN)
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts")
      val clicks = AsOfJoin.latestPerKeyTs(
        ev.filter(col("event_type") === "click")
          .select("user_id", "ts", "value", "event_id"),
        col("user_id"), col("ts"), col("event_id"))
        .select("user_id", "ts", "value")
      AsOfJoin.asOf(purchases, clicks, "user_id", "ts", Seq("value"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), TsFmt).as("ts"),
          round(col("asof_value"), 6).as("asof_value"))
        .orderBy("event_id")
    }),

    "q118_next_conversion" -> ((s, dir) => {
      // FORWARD as-of: each click's next purchase within 24h — the
      // outcome-attribution direction (q69/q105 are the backward/feature
      // direction). Lag emitted in exact integer MICROS (no division, no
      // float); the oracle compares epoch_us on both sides so the
      // tolerance check floors nanos identically to Spark's micro ts.
      import graft.operators.AsOfJoin
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = AsOfJoin.latestPerKeyTs(
          ev.filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts"), col("value"), col("event_id")),
          col("user_id"), col("ts"), col("event_id"))
        .select(col("user_id"), col("ts"), col("ts").as("pts"), col("value"))
      AsOfJoin.asOfNext(clicks, purchases, "user_id", "ts",
          Seq("value", "pts"), toleranceSeconds = Some(86400L))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), TsFmt).as("ts"),
          round(col("next_value"), 6).as("next_value"),
          (unix_micros(col("next_pts")) - unix_micros(col("ts")))
            .as("lag_us"))
        .orderBy("event_id")
    }),

    "q70_stratified_sample" -> ((s, dir) => {
      // partition-invariant stratified sample (Sampling scaladoc):
      // en half, zh a tenth, everything else a quarter
      Sampling.stratifiedSample(t(s, dir, "documents"),
          col("doc_id"), col("lang"),
          Map("en" -> 0.5, "zh" -> 0.1), default = 0.25, salt = "doc")
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    }),

    "q71_sessionize" -> ((s, dir) => {
      // 30-minute-gap sessions per user with per-session rollup.
      // Money discipline: SUM as decimal(18,2) (order-invariant across
      // partitions) but EMIT double — the oracle harness's pandas bridge
      // floats DECIMAL columns, so a decimal output ("3591.70") vs the
      // bridged float64 ("3591.7") hash-mismatches on trailing-zero cents.
      // The 2dp decimal is exactly representable in double, so the final
      // cast is lossless on both engines.
      Sessionize.sessions(t(s, dir, "events"),
          col("user_id"), col("ts"), col("event_id"), gapSeconds = 1800,
          aggs = Seq(sum(col("value").cast("decimal(18,2)"))
            .cast("double").as("total_value")))
        .select(col("key").as("user_id"), col("session"),
          date_format(col("session_start"), TsFmt).as("session_start"),
          date_format(col("session_end"), TsFmt).as("session_end"),
          col("n_events"), col("total_value"))
        .orderBy("user_id", "session")
    }),

    "q72_ivf_assign" -> ((s, dir) => {
      // IVF build: deterministic coarse centroids (every 200th id),
      // max-cosine assignment via broadcast + argmax partial agg;
      // per-list histogram with order-independent extrema
      SimilaritySearch.ivfAssign(Tables.loadSpread(s, dir, "embeddings"),
          col("vec_id"), col("embedding"), modulus = 200)
        .groupBy("cid")
        .agg(count(lit(1)).as("n"),
          round(min(col("cosine")), 6).as("min_cos"),
          round(max(col("cosine")), 6).as("max_cos"))
        .orderBy("cid")
    }),

    "q73_ivf_topk" -> ((s, dir) => {
      // IVF search: probe the 2 nearest centroid lists for vec 0's
      // embedding, exact top-10 within the probed lists
      val e = Tables.loadSpread(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).map(_.toDouble)
      SimilaritySearch.ivfTopK(e, col("vec_id"), col("embedding"), q,
          modulus = 200, nprobe = 2, k = 10)
        .select(col("id"), round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("rank")
    }),

    "q132_ivf_index_topk" -> ((s, dir) => {
      // the materialize-once serving shape for ANN (SimilaritySearch
      // .ivfIndex scaladoc): centroids + assignments built once, BOTH
      // written to parquet, and the search runs against the STORED
      // index read back from disk — same parameters and rows as q73,
      // which builds the index inline per query. A production vector
      // store builds the index per corpus version and serves every
      // query from it.
      val e = Tables.loadSpread(s, dir, "embeddings")
      val idx = SimilaritySearch.ivfIndex(e, col("vec_id"),
        col("embedding"), modulus = 200)
      val out = "/tmp/graft_ivf_q132"
      idx.centroids.write.mode("overwrite").parquet(s"$out/centroids")
      idx.assignments.write.mode("overwrite").parquet(s"$out/assignments")
      val stored = SimilaritySearch.IvfIndex(
        s.read.parquet(s"$out/centroids"),
        s.read.parquet(s"$out/assignments"))
      val q = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).map(_.toDouble)
      SimilaritySearch.ivfTopKFromIndex(e, col("vec_id"), col("embedding"),
          stored, q, nprobe = 2, k = 10)
        .select(col("id"), round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("rank")
    }),

    "q134_ivf_append" -> ((s, dir) => {
      // nightly ANN index maintenance: the corpus index (vec_id % 5 != 3)
      // is built + stored once; the delta (vec_id % 5 == 3) is assigned
      // against the STORED centroids only — work ∝ delta, the corpus is
      // never re-assigned (SimilaritySearch.ivfAppend scaladoc). Every
      // multiple of 200 is ≡ 0 (mod 5), so the corpus-built centroid set
      // equals the full-build set and the appended index must reproduce
      // q73's inline-build search row-for-row — the oracle IS q73's SQL.
      val e = Tables.loadSpread(s, dir, "embeddings")
      val corpus = e.filter(pmod(col("vec_id"), lit(5)) =!= 3)
      val delta = e.filter(pmod(col("vec_id"), lit(5)) === 3)
      val idx = SimilaritySearch.ivfIndex(corpus, col("vec_id"),
        col("embedding"), modulus = 200)
      val out = "/tmp/graft_ivf_q134"
      idx.centroids.write.mode("overwrite").parquet(s"$out/centroids")
      idx.assignments.write.mode("overwrite").parquet(s"$out/assignments")
      val stored = SimilaritySearch.IvfIndex(
        s.read.parquet(s"$out/centroids"),
        s.read.parquet(s"$out/assignments"))
      val appended = SimilaritySearch.ivfAppend(stored, delta,
        col("vec_id"), col("embedding"))
      val q = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).map(_.toDouble)
      SimilaritySearch.ivfTopKFromIndex(e, col("vec_id"), col("embedding"),
          appended, q, nprobe = 2, k = 10)
        .select(col("id"), round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("rank")
    }),

    "q141_ivfpq_topk" -> ((s, dir) => {
      // IVF-PQ — the production ANN composition (FAISS IndexIVFPQ
      // shape): q73's coarse quantizer picks the query's 2 nearest
      // inverted lists, and ONLY their members are ADC-scored over
      // q85's PQ codes (per-subspace table lookup, no float math per
      // candidate). The oracle composes the two gate families' SQL
      // verbatim: probed-members CTEs from q73/q132, codes/ADC CTEs
      // from q85 restricted to the members. At scale: candidate memory
      // is m bytes/vector and unprobed lists are never read.
      val e = Tables.loadSpread(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).map(_.toDouble)
      SimilaritySearch.ivfPqTopK(e, col("vec_id"), col("embedding"), q,
          ivfModulus = 200, nprobe = 2, pqModulus = 100, m = 4,
          subDim = 16, k = 10)
        .select(col("id"), col("c0"), col("c1"), col("c2"), col("c3"),
          col("adc_dist"), col("rank").cast("bigint").as("rank"))
        .orderBy("rank")
    }),

    "q144_ivfpq_residual_topk" -> ((s, dir) => {
      // residual-encoded IVF-PQ (the faithful FAISS IndexIVFPQ): PQ
      // codes describe v − centroid(v) with a residual-space codebook,
      // and each probed list carries its own query-residual ADC table —
      // the recall win over q141's raw-vector encode at the same code
      // budget (SimilaritySearch.ivfPqResidualTopK scaladoc). Same
      // coarse parameters as q141.
      val e = Tables.loadSpread(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).map(_.toDouble)
      SimilaritySearch.ivfPqResidualTopK(e, col("vec_id"),
          col("embedding"), q, ivfModulus = 200, nprobe = 2,
          pqModulus = 100, m = 4, subDim = 16, k = 10)
        .select(col("id"), col("list_cid"), col("adc_dist"),
          col("rank").cast("bigint").as("rank"))
        .orderBy("rank")
    }),

    "q143_ivfpq_index_topk" -> ((s, dir) => {
      // the materialize-once serving shape for IVF-PQ (the q132 pattern
      // applied to q141): centroids, assignments, codebook AND the
      // per-vector code table built once, all four parquet-persisted,
      // and the search reads ONLY the stored frames — the raw embedding
      // table is never touched at query time (codes ≈ m bytes/vector,
      // the RAM-resident serving contract). Same parameters as q141;
      // the oracle IS q141's SQL — the stored path must reproduce the
      // inline path row-for-row through the roundtrip.
      val e = Tables.loadSpread(s, dir, "embeddings")
      val stored = SimilaritySearch.storeIndex(
        SimilaritySearch.ivfPqIndex(e, col("vec_id"), col("embedding"),
          ivfModulus = 200, pqModulus = 100, m = 4, subDim = 16),
        "/tmp/graft_ivfpq_q143")
      val q = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).map(_.toDouble)
      SimilaritySearch.ivfPqTopKFromIndex(stored, q, nprobe = 2, m = 4,
          subDim = 16, k = 10)
        .select(col("id"), col("c0"), col("c1"), col("c2"), col("c3"),
          col("adc_dist"), col("rank").cast("bigint").as("rank"))
        .orderBy("rank")
    }),

    "q215_index_erasure" -> ((s, dir) => {
      // FAISS remove_ids over the stored q143 index (right-to-erasure
      // for serving artifacts): build + persist, find the query's
      // top-2 ADC neighbors (excluding the query itself), PHYSICALLY
      // erase them from the stored assignments + codes
      // (SimilaritySearch.eraseFromStoredIndex — file-targeted
      // Layout.deleteWhere rewrites), then serve top-10 again FROM THE
      // ERASED STORE. The oracle replays pre-erasure ADC top-2 →
      // membership exclusion → post-erasure top-10: the subjects were
      // the best-ranked rows, so a no-op erasure cannot hash-match.
      // Centroids/codebook keep their trained values by contract
      // (eraseFromStoredIndex scaladoc).
      val e = Tables.loadSpread(s, dir, "embeddings")
      val out = Scratch.path(s, "q215")
      val stored = SimilaritySearch.storeIndex(
        SimilaritySearch.ivfPqIndex(e, col("vec_id"), col("embedding"),
          ivfModulus = 200, pqModulus = 100, m = 4, subDim = 16),
        out)
      val q = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).map(_.toDouble)
      // top-3 then drop the self-match: equals "top-2 excluding the
      // query" whether or not the query ranks inside the top 3
      val subjects = SimilaritySearch.ivfPqTopKFromIndex(stored, q,
          nprobe = 2, m = 4, subDim = 16, k = 3)
        .filter(col("id") =!= 0).orderBy("rank").limit(2)
        .select("id").collect().map(_.getLong(0)).toSeq
      SimilaritySearch.eraseFromStoredIndex(s, out, subjects)
      // read the store again: the erasure rewrote files under `out`
      SimilaritySearch.ivfPqTopKFromIndex(
          SimilaritySearch.readIndex(s, out), q, nprobe = 2, m = 4,
          subDim = 16, k = 10)
        .select(col("id"), col("c0"), col("c1"), col("c2"), col("c3"),
          col("adc_dist"), col("rank").cast("bigint").as("rank"))
        .orderBy("rank")
    }),

    "q154_ann_refine" -> ((s, dir) => {
      // two-stage serving search (the FAISS IndexRefineFlat shape,
      // SimilaritySearch.refineTopK scaladoc): q141's IVF-PQ ADC pass
      // produces a top-30 shortlist over compressed codes; ONLY those
      // 30 raw vectors are fetched (broadcast semi-join — a
      // storage-pruned point read when id is the sort key) and
      // re-scored by exact cosine, and the final top-10 ranks by the
      // exact metric. Restores exact-metric ordering within the
      // shortlist at a cost independent of corpus size.
      val e = Tables.loadSpread(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).map(_.toDouble)
      val shortlist = SimilaritySearch.ivfPqTopK(e, col("vec_id"),
        col("embedding"), q, ivfModulus = 200, nprobe = 2,
        pqModulus = 100, m = 4, subDim = 16, k = 30)
      SimilaritySearch.refineTopK(e, col("vec_id"), col("embedding"),
          shortlist, q, k = 10)
        .select(col("id"), round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("rank")
    }),

    "q158_ivfpq_refined_serving" -> ((s, dir) => {
      // the DEFAULT serving composition (verdict r11 #4): q143's
      // stored-index search with the q154 refine stage folded in —
      // ivfPqTopKRefinedFromIndex reads ONLY stored frames for the ADC
      // shortlist (R = 3×k over m-byte codes), then point-reads the 30
      // raw vectors for the exact-cosine top-10. Same index parameters
      // as q143; the oracle IS q154's SQL — the stored-index shortlist
      // must reproduce the inline shortlist through the roundtrip, and
      // the refine tail is metric-exact.
      val e = Tables.loadSpread(s, dir, "embeddings")
      val stored = SimilaritySearch.storeIndex(
        SimilaritySearch.ivfPqIndex(e, col("vec_id"), col("embedding"),
          ivfModulus = 200, pqModulus = 100, m = 4, subDim = 16),
        "/tmp/graft_ivfpq_q158")
      val q = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).map(_.toDouble)
      SimilaritySearch.ivfPqTopKRefinedFromIndex(stored, e, col("vec_id"),
          col("embedding"), q, nprobe = 2, m = 4, subDim = 16, k = 10,
          refineFactor = 3)
        .select(col("id"), round(col("cosine"), 6).as("cosine"), col("rank"))
        .orderBy("rank")
    }),

    "q209_binary_hamming_topk" -> ((s, dir) => {
      // 1-bit binary embeddings + Hamming top-k — the memory-bound
      // scale path PAST int8 (q76) and PQ: 64-d float32 → ONE long
      // (256× smaller), distance = xor+popcount, no float math in the
      // scan (SimilaritySearch.binarySignCode scaladoc). The serving
      // composition re-ranks survivors exactly (refineTopK); the
      // declared query gates the code/distance/rank math.
      val e = Tables.loadSpread(s, dir, "embeddings")
      val q = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).map(_.toDouble)
      graft.operators.SimilaritySearch.binaryHammingTopK(
        e, col("vec_id"), col("embedding"), q, dims = 64, k = 20)
        .orderBy("rank")
    }),

    "q76_int8_topk" -> ((s, dir) => {
      // scalar int8 quantization + integer-dot top-k — the memory-bound
      // scale path (4× smaller vectors, exact integer arithmetic both
      // engines: codes ≤ 255, 64-dim dot < 2^53). code_i =
      // floor((x_i - min)·255/(max - min)), degenerate flat vectors → 0.
      val e = Tables.loadSpread(s, dir, "embeddings")
      def codes(v: org.apache.spark.sql.Column) = {
        // widen BEFORE arithmetic: float−float would stay float32 and
        // drift off the oracle's double math at floor boundaries
        val vmin = array_min(v).cast("double")
        val vmax = array_max(v).cast("double")
        transform(v, x => when(vmax === vmin, lit(0.0)).otherwise(
          floor((x.cast("double") - vmin) * 255.0 / (vmax - vmin))))
      }
      val quant = e.select(col("vec_id").as("id"),
        codes(col("embedding")).as("q"))
      val qRow = quant.filter(col("id") === 0).select("q")
        .head.getSeq[Double](0)
      val qLit = array(qRow.map(lit): _*)
      val qdot = graft.functions.VectorFunctions.dot(col("q"), qLit)
        .cast("long")
      graft.operators.TopK.globalTopK(
          quant.select(col("id"), qdot.as("qdot")),
          Seq(col("qdot").desc, col("id").asc), 20)
        .orderBy("rank")
    }),

    "q77_rolling_features" -> ((s, dir) => {
      // 7-day rolling per-customer order features (point-in-time window
      // frame — the feature-store rolling aggregate; RANGE frame over
      // event time, not ROWS, so gaps count correctly)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey"))
        .orderBy(datediff(col("o_orderdate"), lit("1992-01-01").cast("date")))
        .rangeBetween(-6, 0)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
          count(lit(1)).over(w).as("n_7d"),
          round(sum(col("o_totalprice")).over(w), 2).as("rev_7d"))
        .orderBy("o_orderkey")
    }),

    "q78_percentiles" -> ((s, dir) => {
      // DISCRETE percentiles per segment: an actual data value, no
      // interpolation — interpolated medians of 2-decimal money land on
      // exact .xx5 rounding boundaries where engine ULP differences
      // diverge (measured: one segment's p50 off by a cent). Selected BY
      // RANK (value at rn == ceil(p·n), exact integer arithmetic:
      // (a·n + b − 1) div b for p = a/b) instead of Spark's
      // percentile_disc aggregate, whose buffer holds each group's
      // whole value→count map in executor memory — an OOM at 100 TB
      // group sizes. The rank window sorts-and-spills instead, and the
      // oracle replays the identical ranks.
      val orders = t(s, dir, "orders")
      val cust = t(s, dir, "customer").select(
        col("c_custkey"), col("c_mktsegment"))
      val joined = orders
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("segment"),
          col("o_totalprice").as("p"))
      // giantGroups: 5 market segments over all orders — the declared
      // query runs the range-partitioned selection, not a 5-task window
      val ranked = graft.operators.RobustStats.rankedByGroup(
        joined, col("segment"), col("p"), col("p"), giantGroups = true)
      def at(a: Int, b: Int) =
        max(when(col("rn") === expr(s"($a * n + ${b - 1}) div $b"), col("v")))
      ranked.groupBy(col("grp").as("segment"))
        .agg(at(1, 2).as("p50"), at(9, 10).as("p90"), at(99, 100).as("p99"))
        .orderBy("segment")
    }),

    "q79_pii_redact" -> ((s, dir) => {
      // PII-style redaction: digit runs in names → <ID>, with a
      // match count and a portable fingerprint of the redacted text
      val redacted = regexp_replace(col("c_name"), "[0-9]+", "<ID>")
      Tables.loadSpread(s, dir, "customer")
        .select(col("c_custkey"),
          redacted.as("redacted"),
          regexp_count(col("c_name"), lit("[0-9]+")).as("n_redactions"),
          md5(redacted.cast("binary")).as("fp"))
        .orderBy("c_custkey")
    }),

    "q83_weighted_sample" -> ((s, dir) => {
      // importance sampling: keep documents with probability ∝ a quality
      // proxy (longer docs likelier) — Sampling.sampleByWeight, md5-hash
      // determinism replayed exactly by the oracle
      val docs = t(s, dir, "documents")
        .withColumn("w", least(col("n_chars") / 2000.0, lit(1.0)))
      graft.operators.Sampling.sampleByWeight(docs, col("doc_id"), col("w"))
        .select(col("doc_id"), col("lang"), round(col("w"), 6).as("w"))
        .orderBy("doc_id")
    }),

    "q80_cube_rollup" -> ((s, dir) => {
      // CUBE over (status, priority): all grouping combinations in one
      // pass — the multi-dimensional dashboard rollup the reference
      // computes as separate queries (SURVEY §2.4 notes it lacks
      // grouping sets entirely). grouping_id() disambiguates NULL-as-
      // total from NULL data.
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("int").as("gid"),
          count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("rev"))
        .select(
          coalesce(col("o_orderstatus"), lit("<all>")).as("status"),
          coalesce(col("o_orderpriority"), lit("<all>")).as("priority"),
          col("gid"), col("n"), col("rev"))
        .orderBy("gid", "status", "priority")
    }),

    "q81_setops" -> ((s, dir) => {
      // relation-level INTERSECT / EXCEPT (SURVEY §2.6: absent in the
      // reference, expressed there as pandas membership loops):
      // customers active in BOTH the F and O order populations but never
      // in P — set semantics (distinct) per ANSI
      val orders = t(s, dir, "orders")
      def custOf(status: String) = orders
        .filter(col("o_orderstatus") === status)
        .select(col("o_custkey"))
      custOf("F").intersect(custOf("O"))
        .except(custOf("P"))
        .orderBy("o_custkey")
    }),

    "q82_column_profile" -> ((s, dir) => {
      // generic column profiler over TWO column-pruned scans instead of
      // one multi-distinct agg: k count_distincts in a single agg
      // compile to Expand×(k+1) — every input row replicated per
      // distinct column, then SORT-aggregated on a (k+1)-part key; a
      // 6× row-blowup sort-shuffle of the full fact table at 100 TB
      // (r7 judge finding). Pass 1 (count/nulls/min/max) is a pure
      // partial+final hash agg; pass 2 unpivots to (column, value) and
      // counts distincts grouped by column — the partial agg dedupes
      // (column, value) map-side, so the shuffle carries per-partition
      // DISTINCTS, not rows. Values identical to the one-pass form
      // (string casts are injective on these types); the union restores
      // the (column, stat, value) shape. loadSpread: the partial aggs
      // over an unsplittable scan would otherwise run on one core.
      val o = Tables.loadSpread(s, dir, "orders")
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority")
      val aggs = cols.flatMap { c =>
        Seq(count(col(c)).cast("string").as(s"${c}__count"),
          sum(col(c).isNull.cast("long")).cast("string").as(s"${c}__nulls"),
          min(col(c)).cast("string").as(s"${c}__min"),
          max(col(c)).cast("string").as(s"${c}__max"))
      }
      val wide = o.agg(aggs.head, aggs.tail: _*)
      val basic = wide.select(expr(
        s"stack(${cols.size * 4}, " +
          cols.flatMap(c => Seq("count", "nulls", "min", "max")
            .map(st => s"'$c', '$st', `${c}__$st`")).mkString(", ") +
          ") AS (column, stat, value)"))
      val unpivoted = o.select(expr(
        s"stack(${cols.size}, " +
          cols.map(c => s"'$c', cast(`$c` as string)").mkString(", ") +
          ") AS (column, value)"))
      val distincts = unpivoted.groupBy("column")
        .agg(count_distinct(col("value")).cast("string").as("value"))
        .select(col("column"), lit("distinct").as("stat"), col("value"))
      basic.union(distincts).orderBy("column", "stat")
    }),

    "q74_tfidf" -> ((s, dir) => {
      // TF-IDF top-3 terms per document: tf · ln(N/df), df over distinct
      // docs per term; one explode + two aggregations, idf via a
      // broadcast-joined term-frequency dim
      val docs = Tables.loadSpread(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(filter(split(lower(col("text")), "\\s+"),
          t => length(t) > 0)).as("term"))
      val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      // df via groupBy + join, NOT a count() window over term: the groupBy
      // partial-aggregates (a stopword term emits one row per map task, not
      // one row per document), and AQE can skew-split the term join — a
      // window would pin every row of a hot term on a single task with no
      // split possible, which dies at corpus scale
      val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val nDf = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val scored = tf.join(df_, "term").crossJoin(broadcast(nDf))
        .select(col("doc_id"), col("term"),
          (col("tf") * log(col("n_docs") / col("df"))).as("tfidf"))
      graft.operators.TopK.topKPerGroup(scored, Seq(col("doc_id")),
          Seq(col("tfidf").desc, col("term").asc), 3)
        .select(col("doc_id"), col("term"),
          round(col("tfidf"), 6).as("tfidf"), col("rn").as("rank"))
        .orderBy("doc_id", "rank")
    }),

    "q91_event_sequences" -> ((s, dir) => {
      // training-sequence assembly: per-user chronological prefix (10
      // events) + total count. row_number and count share ONE user-hash
      // Exchange, and the groupBy reuses it (q86 discipline). The prefix
      // cap happens IN the window, before collect_list — at 100 TB the
      // per-group state must be bounded before anything materializes a
      // list, never sliced after.
      val w = org.apache.spark.sql.expressions.Window
      val ordered = w.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("rn", row_number().over(ordered))
        .withColumn("n_events", count(lit(1)).over(w.partitionBy(col("user_id"))))
        .filter(col("rn") <= 10)
        .groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"),
          array_join(transform(
            array_sort(collect_list(struct(col("rn"), col("event_type")))),
            x => x.getField("event_type")), ",").as("seq10"))
        .orderBy("user_id")
    }),

    "q146_transition_matrix" -> ((s, dir) => {
      // user-journey transition matrix (the first-order Markov view of
      // the event stream — the rollup behind funnels and next-action
      // models): per user, consecutive event-type bigrams ordered by
      // (ts, event_id) with a START pseudo-state, rolled up globally
      // with per-source-state transition shares. One user-hash window
      // Exchange + one tiny (|types|² rows) aggregate; the share window
      // runs on the aggregate, never the fact table.
      val w = org.apache.spark.sql.expressions.Window
      val byUser = w.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev",
          coalesce(lag(col("event_type"), 1).over(byUser), lit("START")))
        .groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share", round(col("n") /
          sum(col("n")).over(w.partitionBy(col("prev"))), 6))
        .orderBy("prev", "next")
    }),

    "q92_negative_sampling" -> ((s, dir) => {
      // contrastive-training negatives: 4 parts per customer that the
      // customer NEVER ordered. Candidates come from a replayable hash
      // (customer, slot) → partkey — not rand() (partition-dependent),
      // and not a customers×parts crossJoin (O(C·P) at any scale).
      // Oversample 8 slots, anti-join the positives, keep first 4 by
      // slot. Positives pre-aggregate to distinct pairs so the anti-join
      // probe side is minimal.
      val positives = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey").as("p_partkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c_custkey"), col("p_partkey"))
        .distinct()
      val np = broadcast(t(s, dir, "part").agg(count(lit(1)).as("np")))
      val cands = t(s, dir, "customer").select(col("c_custkey"))
        .crossJoin(np) // 1-row scalar: partkeys are dense 0..np-1
        .select(col("c_custkey"), col("np"),
          explode(sequence(lit(0), lit(7))).as("slot"))
        .select(col("c_custkey"), col("slot"),
          pmod(org.apache.spark.sql.graftshim.GraftShim.column(
            graft.functions.Md5Prefix32(
              org.apache.spark.sql.graftshim.GraftShim.expr(
                concat(lit("negsamp:"), col("c_custkey").cast("string"),
                  lit(":"), col("slot").cast("string"))))), col("np"))
            .as("p_partkey"))
      val rk = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_custkey")).orderBy(col("slot"))
      cands.join(positives, Seq("c_custkey", "p_partkey"), "left_anti")
        .groupBy("c_custkey", "p_partkey").agg(min(col("slot")).as("slot"))
        .withColumn("neg_rank", row_number().over(rk))
        .filter(col("neg_rank") <= 4)
        .select(col("c_custkey"), col("neg_rank"), col("p_partkey"))
        .orderBy("c_custkey", "neg_rank")
    }),

    "q90_heavy_hitters" -> ((s, dir) => {
      // exact top-20 most-active users, two scans + bounded shuffle
      // (HeavyHitters scaladoc). Exactness certificate at the gate SF:
      // 20th count 77 >> n/capacity 2.4 (and 85 vs 24 at sf0.1).
      HeavyHitters.topKFrequent(t(s, dir, "events"), "user_id", k = 20)
        .select(col("user_id"), col("cnt").as("n_events"))
    }),

    "q89_range_join_windows" -> ((s, dir) => {
      // event-to-window attribution: sparse "incident windows" (2h after
      // each anchor purchase) ← ALL events falling inside, with NO
      // equi-key — the pure range join Spark would otherwise plan as a
      // nested loop. RangeJoin bins it into a hash equi-join (bin = 1h ≈
      // window length/2). total_value sums as decimal(18,2) for
      // order-invariance, emitted as double (q71 discipline).
      val ev = t(s, dir, "events")
      val windows = ev
        .filter(col("event_type") === "purchase" && col("event_id") % 50 === 0)
        .select(col("event_id").as("window_id"), col("ts").as("w_from"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("w_to"))
      RangeJoin.binnedRangeJoin(
          ev.select("event_id", "ts", "user_id", "value"), "ts",
          windows, "w_from", "w_to", binSeconds = 3600)
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
        .orderBy("window_id")
    }),

    "q128_sql_range_join" -> ((s, dir) => {
      // q89's semantics written the way a SQL user actually writes it:
      // the NAIVE theta join `e.ts >= w_from AND e.ts < w_to`, no
      // library operator. plans.AutoBinRangeJoin (active in any session
      // with the graft extensions — GraftExtensions.registerAll is
      // idempotent) rewrites it to the binned equi-join at optimization
      // time, so the declared-query gate guards the RULE end-to-end,
      // not just its spec. Money discipline as q89.
      graft.GraftExtensions.registerAll(s)
      val ev = t(s, dir, "events")
      ev.select("event_id", "ts", "user_id", "value")
        .createOrReplaceTempView("q128_events")
      ev.filter(col("event_type") === "purchase" && col("event_id") % 50 === 0)
        .select(col("event_id").as("window_id"), col("ts").as("w_from"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("w_to"))
        .createOrReplaceTempView("q128_windows")
      s.sql("""SELECT w.window_id, count(*) AS n_events,
              |  count(DISTINCT e.user_id) AS n_users,
              |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE)
              |    AS total_value
              |FROM q128_events e JOIN q128_windows w
              |  ON e.ts >= w.w_from AND e.ts < w.w_to
              |GROUP BY w.window_id ORDER BY w.window_id""".stripMargin)
    }),

    "q126_sliding_window" -> ((s, dir) => {
      // sliding event-time aggregate: 1h windows every 15min via the
      // native window() generator — scan-local explode into len/slide=4
      // windows per event, then one hash agg; the batch shape of the
      // T4 streaming rollup at sub-window granularity. Money sums per
      // the q71 discipline. Oracle replays Spark's window assignment
      // arithmetic: starts floor(us/slide)*slide − i*slide, i ∈ [0,4) —
      // all four satisfy ws ≤ ts < ws+len when slide divides length.
      val ev = t(s, dir, "events")
      ev.groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
        .select(date_format(col("w.start"), TsFmt).as("window_start"),
          col("n_events"), col("n_users"), col("total_value"))
        .orderBy("window_start")
    }),

    "q121_interval_overlap" -> ((s, dir) => {
      // general interval×interval overlap join: promo windows (2h after
      // each anchor purchase) × incident windows (3h after each anchor
      // error) — neither side is a point, so q89's point-in-interval bin
      // shape can't express it. intervalOverlapJoin explodes BOTH sides
      // into 1h bins and keeps each pair only in the bin holding
      // max(from, from): exactly-once with no dedup shuffle. Overlap
      // duration sums in integer microseconds (engine-portable; no
      // fractional-second date_diff semantics to align).
      val ev = t(s, dir, "events")
      val promos = ev
        .filter(col("event_type") === "purchase" && col("event_id") % 10 === 0)
        .select(col("event_id").as("window_id"), col("ts").as("p_from"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("p_to"))
      val incidents = ev
        .filter(col("event_type") === "error" && col("event_id") % 10 === 0)
        .select(col("event_id").as("incident_id"), col("ts").as("i_from"),
          (col("ts") + expr("INTERVAL 3 HOURS")).as("i_to"))
      RangeJoin.intervalOverlapJoin(promos, "p_from", "p_to",
          incidents, "i_from", "i_to", binSeconds = 3600)
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_incidents"),
          sum(unix_micros(least(col("p_to"), col("i_to"))) -
            unix_micros(greatest(col("p_from"), col("i_from"))))
            .as("overlap_micros"))
        .orderBy("window_id")
    }),

    "q88_reconcile_full_outer" -> ((s, dir) => {
      // cross-system reconciliation: activity rollup vs order rollup,
      // FULL OUTER on the entity key — the audit join that surfaces
      // entities present on exactly one side (every other join type in
      // the gate discards one side's orphans). Both inputs pre-aggregate
      // to one row per key BEFORE the join, so the shuffle carries
      // rollups, not raw rows.
      val ev = t(s, dir, "events")
        .groupBy(col("user_id").as("k")).agg(count(lit(1)).as("n_events"))
      val ord = t(s, dir, "orders")
        .filter(col("o_custkey") % 2 === 0 && col("o_custkey") < 300)
        .groupBy(col("o_custkey").as("k")).agg(count(lit(1)).as("n_orders"))
      ev.as("e").join(ord.as("o"), col("e.k") === col("o.k"), "full_outer")
        .select(coalesce(col("e.k"), col("o.k")).as("entity"),
          col("n_events"), col("n_orders"),
          when(col("e.k").isNotNull && col("o.k").isNotNull, "both")
            .when(col("e.k").isNotNull, "events_only")
            .otherwise("orders_only").as("presence"))
        .orderBy("entity")
    }),

    "q87_incremental_rollup" -> ((s, dir) => {
      // incremental materialized-view maintenance: the standing daily
      // rollup (events ≤ HWM, the "stored" aggregate) merges with the
      // delta partition (events > HWM) by ALGEBRAIC combine — sum of
      // counts, sum of decimal sums — never re-reading the history. The
      // oracle is the full-table rollup, so the gate itself proves
      // old ⊕ delta == full. At 100 TB this is the difference between
      // touching one day and touching three years.
      val hwm = lit("2024-01-15 00:00:00").cast("timestamp")
      def rollup(df: DataFrame): DataFrame = df
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).as("sv"))
      val ev = t(s, dir, "events")
      val old_ = rollup(ev.filter(col("ts") <= hwm))
      val delta = rollup(ev.filter(col("ts") > hwm))
      old_.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(sum(col("n")).as("n"),
          sum(col("sv")).cast("double").as("total_value"))
        .orderBy("day", "event_type")
    }),

    "q86_scd2_intervals" -> ((s, dir) => {
      // SCD2 history build from an event stream: compress each user's
      // event-type sequence to its change points, then derive validity
      // intervals [valid_from, valid_to) with lead(); open interval =
      // current state. The slowly-changing-dimension pattern behind the
      // reference's sync/watermark bookkeeping, as two windows over one
      // user-partitioned shuffle (both windows share the partitioning,
      // so Catalyst plans a single Exchange). (Scd2.build; the
      // incremental upsert twin is q139.)
      graft.operators.Scd2.build(t(s, dir, "events"), col("user_id"),
          col("ts"), col("event_id"), col("event_type"))
        .select(col("key").as("user_id"), col("state"),
          date_format(col("valid_from"), TsFmt).as("valid_from"),
          date_format(col("valid_to"), TsFmt).as("valid_to"),
          col("is_current"))
        .orderBy("user_id", "valid_from")
    }),

    "q139_scd2_merge" -> ((s, dir) => {
      // incremental SCD2 upsert — the nightly-batch maintenance shape:
      // history built at the 2024-01-30T12:00 watermark, the
      // strictly-later delta folded in by Scd2.merge (work ∝ delta +
      // touched keys; at the gate SF ~40 of 150 users pass through the
      // anti-join untouched, and every closed interval passes through
      // unread). The oracle is q86's FULL-REBUILD SQL over all events,
      // so the gate itself proves merged == rebuilt — the q87
      // old ⊕ delta == full discipline applied to interval history.
      val hwm = lit("2024-01-30 12:00:00").cast("timestamp")
      val ev = t(s, dir, "events")
      val hist = graft.operators.Scd2.build(ev.filter(col("ts") <= hwm),
        col("user_id"), col("ts"), col("event_id"), col("event_type"))
      graft.operators.Scd2.merge(hist, ev.filter(col("ts") > hwm),
          col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .select(col("key").as("user_id"), col("state"),
          date_format(col("valid_from"), TsFmt).as("valid_from"),
          date_format(col("valid_to"), TsFmt).as("valid_to"),
          col("is_current"))
        .orderBy("user_id", "valid_from")
    }),

    "q85_pq_adc_topk" -> ((s, dir) => {
      // Product quantization ANN with asymmetric distance computation —
      // the memory-bound scale path past int8 (q76): each vector is held
      // as m=4 one-byte codes (64× smaller than float32), search is a
      // per-subspace table LOOKUP of precomputed query→centroid
      // distances, no float math per candidate. Codebook = deterministic
      // modulus-sampled vectors (the q72 IVF discipline, oracle-exact);
      // codes = per-subspace L2 argmin over the BROADCAST codebook, so
      // encoding is scan-local — no shuffle until the final top-k.
      val e = Tables.loadSpread(s, dir, "embeddings")
        .select("vec_id", "embedding")
      val qv = e.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).map(_.toDouble)
      val cb = SimilaritySearch.pqCodebook(e, col("vec_id"),
        col("embedding"), modulus = 100, m = 4, subDim = 16)
      val codes = SimilaritySearch.pqCodesSub(e, col("vec_id"),
        col("embedding"), cb, m = 4, subDim = 16)
      // ADC lookup table (m×k broadcast rows), fixed-order d0+…+d3 sum,
      // take-ordered top-k — never a global window over all rows
      SimilaritySearch.adcTopKSub(codes, cb, qv, m = 4, subDim = 16, k = 10)
        .select(col("id"), col("c0"), col("c1"), col("c2"), col("c3"),
          col("adc_dist"), col("rank").cast("bigint").as("rank"))
        .orderBy("rank")
    }),

    "q182_semantic_outliers" -> ((s, dir) => {
      // embedding-space outlier triage (the SemDeDup-adjacent quality
      // screen): assign every vector to its coarse IVF cell (q72's
      // broadcast argmax kernel), then flag the bottom 10% of each
      // cell by cosine-to-centroid — the far-from-every-mode rows that
      // are disproportionately noise/OOD in web corpora. Integer-exact
      // decile rule (rk*10 <= n) — no float threshold to disagree on.
      // Scale: one broadcast NL pass for assignment, one cell-keyed
      // window; cells are the partition unit, never the whole corpus.
      val w = org.apache.spark.sql.expressions.Window
      val a = SimilaritySearch.ivfAssign(
        Tables.loadSpread(s, dir, "embeddings"),
        col("vec_id"), col("embedding"), modulus = 50)
      // rank on the ROUNDED cosine (6dp, id tiebreak): Spark computes
      // dot(unit,unit), DuckDB dot/(|a||b|) — equal mathematically, not
      // bitwise; ranking raw doubles could flip the decile flag on a
      // 1-ulp near-tie. 6dp is where both engines provably agree.
      a.withColumn("c6", round(col("cosine"), 6))
        .withColumn("rk", row_number().over(
          w.partitionBy("cid").orderBy(col("c6").asc, col("id").asc)))
        .withColumn("n", count(lit(1)).over(w.partitionBy("cid")))
        .select(col("id").as("vec_id"), col("cid"),
          col("c6").as("cos_centroid"),
          (col("rk") * 10 <= col("n")).as("is_outlier"))
        .orderBy("vec_id")
    }),

    "q188_decayed_engagement" -> ((s, dir) => {
      // exponential time-decay features (half-life 7 days, lambda =
      // ln2/7 embedded as the exact double literal both engines parse
      // bit-identically): per user, decayed value mass and decayed
      // event count as of the stream's max ts — the recency-weighted
      // engagement feature ML models consume. Scan-local age/exp
      // arithmetic on exact microsecond longs; per-term DECIMAL(38,18)
      // quantization before the user-key sum (order-invariant); ONE
      // Exchange (the groupBy), plus the broadcast 1-row t_ref frame.
      val lam = 0.09902102579427789 // ln(2)/7, Double.toString exact
      val ev = t(s, dir, "events")
      val ref = ev.agg(max(col("ts")).as("t_ref"))
      val decay = exp(lit(-lam) *
        ((unix_micros(col("t_ref")) - unix_micros(col("ts")))
          .cast("double") / lit(86400000000.0)))
      ev.crossJoin(broadcast(ref))
        .select(col("user_id"),
          (col("value") * decay).cast("decimal(38,18)").as("wv"),
          decay.cast("decimal(38,18)").as("wc"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          round(sum("wv").cast("double"), 6).as("decayed_value"),
          round(sum("wc").cast("double"), 6).as("decayed_count"))
        .orderBy("user_id")
    }),

    "q189_sequence_nll" -> ((s, dir) => {
      // per-user journey surprisal under the corpus's own first-order
      // Markov model (q146's transition matrix with the START state):
      // avg negative log-likelihood per transition — the sequence-
      // anomaly score behind bot/fraud triage and data-drift review.
      // The matrix is |types|²-tiny (broadcast join onto the pair
      // stream); per-term ln quantized DECIMAL(38,18) before the
      // user-key sum. Scoring the training corpus itself means every
      // observed transition has probability > 0 — no smoothing term.
      val w = org.apache.spark.sql.expressions.Window
      val byUser = w.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val seq0 = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev",
          coalesce(lag(col("event_type"), 1).over(byUser), lit("START")))
        // feeds the matrix AND the scoring join — materialize the
        // scan + per-user window once (the q169/q185 discipline)
        .localCheckpoint(true)
      val m = seq0.groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("n"))
        .withColumn("nt", sum(col("n")).over(w.partitionBy(col("prev"))))
      val mr = m.select(col("prev").as("_mp"), col("next").as("_mn"),
        col("n"), col("nt"))
      seq0.join(broadcast(mr),
          col("prev") === col("_mp") && col("event_type") === col("_mn"))
        .select(col("user_id"),
          (-log(col("n").cast("double") / col("nt").cast("double")))
            .cast("decimal(38,18)").as("nll"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_transitions"),
          sum("nll").cast("double").as("_s"))
        .select(col("user_id"), col("n_transitions"),
          round(col("_s") / col("n_transitions").cast("double"), 6)
            .as("avg_nll"))
        .orderBy("user_id")
    })
  )

  /** Shared IVF-PQ oracle CTE chain (q141 inline / q143 stored-index /
    * q154 refine shortlist): q73's coarse probe + q85's PQ-code ADC
    * restricted to probed-list members, ending in
    * `adc(vec_id, c0..c3, d0..d3)`. Parameters match the queries:
    * ivfModulus 200, nprobe 2, pqModulus 100, m 4, subDim 16. */
  private lazy val ivfPqAdcCte: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |ivfc AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 200 = 0),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |probed AS (SELECT cid FROM ivfc, q
      |  ORDER BY list_cosine_similarity(cv, qv) DESC, cid ASC LIMIT 2),
      |assigned AS (SELECT e.vec_id AS id, ivfc.cid,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_cosine_similarity(e.v, ivfc.cv) DESC,
      |        ivfc.cid ASC) AS rn
      |  FROM e, ivfc),
      |members AS (SELECT id FROM assigned WHERE rn = 1
      |  AND cid IN (SELECT cid FROM probed)),
      |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 100 = 0),
      |sub AS (SELECT unnest(range(0, 4)) AS s),
      |dist AS (
      |  SELECT e.vec_id, sub.s, cent.cid,
      |    list_sum([ (e.v[sub.s*16+i] - cent.cv[sub.s*16+i])
      |             * (e.v[sub.s*16+i] - cent.cv[sub.s*16+i])
      |               FOR i IN range(1, 17) ]) AS d
      |  FROM e JOIN members mm ON e.vec_id = mm.id, sub, cent),
      |codes AS (
      |  SELECT vec_id, s, cid FROM dist
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, s
      |    ORDER BY d, cid) = 1),
      |dq AS (
      |  SELECT sub.s, cent.cid,
      |    list_sum([ (q.qv[sub.s*16+i] - cent.cv[sub.s*16+i])
      |             * (q.qv[sub.s*16+i] - cent.cv[sub.s*16+i])
      |               FOR i IN range(1, 17) ]) AS dq
      |  FROM q, sub, cent),
      |adc AS (
      |  SELECT c.vec_id,
      |    max(CASE WHEN c.s = 0 THEN c.cid END) AS c0,
      |    max(CASE WHEN c.s = 1 THEN c.cid END) AS c1,
      |    max(CASE WHEN c.s = 2 THEN c.cid END) AS c2,
      |    max(CASE WHEN c.s = 3 THEN c.cid END) AS c3,
      |    max(CASE WHEN c.s = 0 THEN dq.dq END) AS d0,
      |    max(CASE WHEN c.s = 1 THEN dq.dq END) AS d1,
      |    max(CASE WHEN c.s = 2 THEN dq.dq END) AS d2,
      |    max(CASE WHEN c.s = 3 THEN dq.dq END) AS d3
      |  FROM codes c JOIN dq ON c.s = dq.s AND c.cid = dq.cid
      |  GROUP BY c.vec_id)""".stripMargin

  /** q141's final projection over [[ivfPqAdcCte]] — also the q143
    * oracle verbatim (the stored-index path must reproduce the inline
    * path row-for-row). */
  private lazy val ivfPqTopKSql: String =
    s"""WITH $ivfPqAdcCte
      |SELECT vec_id AS id, c0, c1, c2, c3,
      |  round(d0 + d1 + d2 + d3, 6) AS adc_dist,
      |  row_number() OVER (ORDER BY d0 + d1 + d2 + d3, vec_id) AS rank
      |FROM adc QUALIFY rank <= 10 ORDER BY rank""".stripMargin

  /** q215: the q141/q143 ADC replayed twice — pre-erasure to derive
    * the two subjects (top-2 excluding the query itself), then
    * post-erasure over the membership with those subjects excluded.
    * `dq` (query-side lookup tables) is member-independent and shared;
    * only the member-side dist/codes/adc recompute. */
  private lazy val indexErasureSql: String =
    s"""WITH $ivfPqAdcCte,
      |erased AS (SELECT vec_id FROM adc WHERE vec_id <> 0
      |  QUALIFY row_number() OVER (ORDER BY d0 + d1 + d2 + d3, vec_id)
      |    <= 2),
      |members2 AS (SELECT id FROM members
      |  WHERE id NOT IN (SELECT vec_id FROM erased)),
      |dist2 AS (
      |  SELECT e.vec_id, sub.s, cent.cid,
      |    list_sum([ (e.v[sub.s*16+i] - cent.cv[sub.s*16+i])
      |             * (e.v[sub.s*16+i] - cent.cv[sub.s*16+i])
      |               FOR i IN range(1, 17) ]) AS d
      |  FROM e JOIN members2 mm ON e.vec_id = mm.id, sub, cent),
      |codes2 AS (
      |  SELECT vec_id, s, cid FROM dist2
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, s
      |    ORDER BY d, cid) = 1),
      |adc2 AS (
      |  SELECT c.vec_id,
      |    max(CASE WHEN c.s = 0 THEN c.cid END) AS c0,
      |    max(CASE WHEN c.s = 1 THEN c.cid END) AS c1,
      |    max(CASE WHEN c.s = 2 THEN c.cid END) AS c2,
      |    max(CASE WHEN c.s = 3 THEN c.cid END) AS c3,
      |    max(CASE WHEN c.s = 0 THEN dq.dq END) AS d0,
      |    max(CASE WHEN c.s = 1 THEN dq.dq END) AS d1,
      |    max(CASE WHEN c.s = 2 THEN dq.dq END) AS d2,
      |    max(CASE WHEN c.s = 3 THEN dq.dq END) AS d3
      |  FROM codes2 c JOIN dq ON c.s = dq.s AND c.cid = dq.cid
      |  GROUP BY c.vec_id)
      |SELECT vec_id AS id, c0, c1, c2, c3,
      |  round(d0 + d1 + d2 + d3, 6) AS adc_dist,
      |  row_number() OVER (ORDER BY d0 + d1 + d2 + d3, vec_id) AS rank
      |FROM adc2 QUALIFY rank <= 10 ORDER BY rank""".stripMargin

  val oracleSql: Map[String, String] = Map(

    "q215_index_erasure" -> indexErasureSql,

    // the one-shot batch write the micro-batch drain + forced replay
    // must reproduce exactly — row count catches a duplicated replay,
    // values catch a mangled batch
    "q208_microbatch_batch_twin" ->
      s"""SELECT event_id, user_id, event_type, value,
        |  strftime(ts, '$TsFmtDuck') AS ts
        |FROM events ORDER BY event_id""".stripMargin,

    "q69_asof_join" ->
      s"""WITH r0 AS (SELECT user_id, ts, value,
        |  row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, ts, value FROM r0 WHERE rn = 1),
        |l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase')
        |SELECT l.event_id, l.user_id, strftime(l.ts, '$TsFmtDuck') AS ts,
        |  round(r.value, 6) AS asof_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY event_id""".stripMargin,

    "q70_stratified_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE CAST(('0x' || substring(md5('doc:' || doc_id), 1, 8)) AS UBIGINT)
        |    % 1000000 / 1000000.0
        |  < (CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'zh' THEN 0.1
        |     ELSE 0.25 END)
        |ORDER BY doc_id""".stripMargin,

    // DuckDB ASOF with c.ts <= p.ts natively selects the EARLIEST p row
    // at-or-after c.ts — the forward direction; tolerance compares
    // epoch_us (Spark's floored-micros semantics), never raw-ns intervals
    "q118_next_conversion" ->
      s"""WITH p0 AS (SELECT user_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id, ts
        |      ORDER BY event_id DESC) AS rn
        |  FROM events WHERE event_type = 'purchase'),
        |p AS (SELECT user_id, ts, value FROM p0 WHERE rn = 1),
        |c AS (SELECT event_id, user_id, ts FROM events
        |  WHERE event_type = 'click')
        |SELECT c.event_id, c.user_id, strftime(c.ts, '$TsFmtDuck') AS ts,
        |  CASE WHEN p.ts IS NOT NULL
        |      AND epoch_us(p.ts) - epoch_us(c.ts) <= 86400000000
        |    THEN round(p.value, 6) END AS next_value,
        |  CASE WHEN p.ts IS NOT NULL
        |      AND epoch_us(p.ts) - epoch_us(c.ts) <= 86400000000
        |    THEN CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT)
        |    END AS lag_us
        |FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts
        |ORDER BY event_id""".stripMargin,

    "q71_sessionize" ->
      s"""WITH flagged AS (SELECT user_id, ts, event_id, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (SELECT user_id, ts, value,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session
        |  FROM flagged)
        |SELECT user_id, session,
        |  strftime(min(ts), '$TsFmtDuck') AS session_start,
        |  strftime(max(ts), '$TsFmtDuck') AS session_end,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM numbered GROUP BY user_id, session
        |ORDER BY user_id, session""".stripMargin,

    "q72_ivf_assign" ->
      """WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        |  FROM embeddings WHERE vec_id % 200 = 0),
        |scored AS (SELECT e.vec_id AS id, c.cid,
        |    list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS cos,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv) DESC,
        |        c.cid ASC) AS rn
        |  FROM embeddings e, c),
        |assigned AS (SELECT id, cid, cos FROM scored WHERE rn = 1)
        |SELECT cid, count(*) AS n, round(min(cos), 6) AS min_cos,
        |  round(max(cos), 6) AS max_cos
        |FROM assigned GROUP BY cid ORDER BY cid""".stripMargin,

    // same oracle text as q73: the stored-index path must reproduce the
    // inline-build path row-for-row (stored centroids/assignments ≡
    // recomputed)
    "q132_ivf_index_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        |  FROM embeddings WHERE vec_id % 200 = 0),
        |probed AS (SELECT cid FROM c, q
        |  ORDER BY list_cosine_similarity(cv, qe) DESC, cid ASC LIMIT 2),
        |scored AS (SELECT e.vec_id AS id, c.cid,
        |    list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS cos,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv) DESC,
        |        c.cid ASC) AS rn
        |  FROM embeddings e, c),
        |members AS (SELECT id FROM scored WHERE rn = 1
        |  AND cid IN (SELECT cid FROM probed))
        |SELECT e.vec_id AS id,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6) AS cosine,
        |  CAST(row_number() OVER (ORDER BY
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qe) DESC,
        |    e.vec_id ASC) AS INTEGER) AS rank
        |FROM embeddings e JOIN members m ON e.vec_id = m.id, q
        |QUALIFY rank <= 10 ORDER BY rank""".stripMargin,

    // same oracle text as q73: append-to-stored-index must reproduce the
    // full inline build (fixed centroid set == rebuild centroid set here)
    "q134_ivf_append" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        |  FROM embeddings WHERE vec_id % 200 = 0),
        |probed AS (SELECT cid FROM c, q
        |  ORDER BY list_cosine_similarity(cv, qe) DESC, cid ASC LIMIT 2),
        |scored AS (SELECT e.vec_id AS id, c.cid,
        |    list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS cos,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv) DESC,
        |        c.cid ASC) AS rn
        |  FROM embeddings e, c),
        |members AS (SELECT id FROM scored WHERE rn = 1
        |  AND cid IN (SELECT cid FROM probed))
        |SELECT e.vec_id AS id,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6) AS cosine,
        |  CAST(row_number() OVER (ORDER BY
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qe) DESC,
        |    e.vec_id ASC) AS INTEGER) AS rank
        |FROM embeddings e JOIN members m ON e.vec_id = m.id, q
        |QUALIFY rank <= 10 ORDER BY rank""".stripMargin,

    "q73_ivf_topk" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
        |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        |  FROM embeddings WHERE vec_id % 200 = 0),
        |probed AS (SELECT cid FROM c, q
        |  ORDER BY list_cosine_similarity(cv, qe) DESC, cid ASC LIMIT 2),
        |scored AS (SELECT e.vec_id AS id, c.cid,
        |    list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS cos,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv) DESC,
        |        c.cid ASC) AS rn
        |  FROM embeddings e, c),
        |members AS (SELECT id FROM scored WHERE rn = 1
        |  AND cid IN (SELECT cid FROM probed))
        |SELECT e.vec_id AS id,
        |  round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe), 6) AS cosine,
        |  CAST(row_number() OVER (ORDER BY
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qe) DESC,
        |    e.vec_id ASC) AS INTEGER) AS rank
        |FROM embeddings e JOIN members m ON e.vec_id = m.id, q
        |QUALIFY rank <= 10 ORDER BY rank""".stripMargin,

    // replays the sign-bit packing (disjoint powers of two summed ==
    // OR), the per-word xor+popcount, and the (hamming, id) rank
    "q209_binary_hamming_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |codes AS (SELECT vec_id AS id,
        |    CAST(list_sum(list_transform(range(1, 65),
        |      i -> CASE WHEN v[i] > 0
        |        THEN CASE WHEN i = 64
        |          THEN CAST(-9223372036854775808 AS BIGINT)
        |          ELSE (CAST(1 AS BIGINT) << (i - 1)) END
        |        ELSE 0 END))
        |      AS BIGINT) AS c
        |  FROM e),
        |q AS (SELECT c AS qc FROM codes WHERE id = 0),
        |scored AS (SELECT id,
        |    CAST(bit_count(xor(c, qc)) AS BIGINT) AS hamming
        |  FROM codes, q)
        |SELECT id, hamming,
        |  CAST(row_number() OVER (ORDER BY hamming ASC, id ASC)
        |    AS INTEGER) AS rank
        |FROM scored QUALIFY rank <= 20 ORDER BY rank""".stripMargin,

    "q76_int8_topk" ->
      """WITH quant AS (SELECT vec_id AS id,
        |  list_transform(embedding::DOUBLE[], x ->
        |    CASE WHEN list_max(embedding::DOUBLE[]) = list_min(embedding::DOUBLE[])
        |      THEN 0.0
        |      ELSE floor((x - list_min(embedding::DOUBLE[])) * 255.0 /
        |        (list_max(embedding::DOUBLE[]) - list_min(embedding::DOUBLE[])))
        |    END) AS q
        |  FROM embeddings),
        |qv AS (SELECT q AS qq FROM quant WHERE id = 0),
        |scored AS (SELECT id,
        |  CAST(list_sum(list_transform(range(1, len(q) + 1),
        |    i -> q[i] * qq[i])) AS BIGINT) AS qdot
        |  FROM quant, qv)
        |SELECT id, qdot,
        |  CAST(row_number() OVER (ORDER BY qdot DESC, id ASC) AS INTEGER) AS rank
        |FROM scored QUALIFY rank <= 20 ORDER BY rank""".stripMargin,

    "q77_rolling_features" ->
      """SELECT o_orderkey, o_custkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS day,
        |  count(*) OVER w AS n_7d,
        |  round(sum(o_totalprice) OVER w, 2) AS rev_7d
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate
        |  RANGE BETWEEN INTERVAL 6 DAYS PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,

    "q78_percentiles" ->
      """WITH r AS (SELECT c_mktsegment AS segment, o_totalprice AS p,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice) AS rn,
        |    count(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_totalprice IS NOT NULL)
        |SELECT segment,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN p END) AS p50,
        |  max(CASE WHEN rn = (9 * n + 9) // 10 THEN p END) AS p90,
        |  max(CASE WHEN rn = (99 * n + 99) // 100 THEN p END) AS p99
        |FROM r GROUP BY segment ORDER BY segment""".stripMargin,

    "q79_pii_redact" ->
      """SELECT c_custkey,
        |  regexp_replace(c_name, '[0-9]+', '<ID>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(c_name, '[0-9]+')) AS INTEGER) AS n_redactions,
        |  md5(regexp_replace(c_name, '[0-9]+', '<ID>', 'g')) AS fp
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q83_weighted_sample" ->
      """SELECT doc_id, lang, round(least(n_chars / 2000.0, 1.0), 6) AS w
        |FROM documents
        |WHERE CAST(('0x' || substring(md5('wsample:' || doc_id), 1, 8)) AS UBIGINT)
        |    % 1000000 / 1000000.0
        |  < least(coalesce(least(n_chars / 2000.0, 1.0), 0) * 1.0, 1.0)
        |ORDER BY doc_id""".stripMargin,

    "q80_cube_rollup" ->
      """SELECT coalesce(o_orderstatus, '<all>') AS status,
        |  coalesce(o_orderpriority, '<all>') AS priority,
        |  CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS INTEGER) AS gid,
        |  count(*) AS n, round(sum(o_totalprice), 2) AS rev
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, status, priority""".stripMargin,

    "q81_setops" ->
      """SELECT o_custkey FROM
        |  ((SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |    INTERSECT
        |    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |   EXCEPT
        |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
        |ORDER BY o_custkey""".stripMargin,

    "q82_column_profile" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderpriority")
      val aggExprs = cols.flatMap { c =>
        Seq(s"""CAST(count($c) AS VARCHAR) AS "${c}__count"""",
          s"""CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS VARCHAR) AS "${c}__nulls"""",
          s"""CAST(count(DISTINCT $c) AS VARCHAR) AS "${c}__distinct"""",
          s"""CAST(min($c) AS VARCHAR) AS "${c}__min"""",
          s"""CAST(max($c) AS VARCHAR) AS "${c}__max"""")
      }.mkString(",\n  ")
      val rows = cols.flatMap { c =>
        Seq("count", "nulls", "distinct", "min", "max").map(st =>
          s"""SELECT '$c' AS "column", '$st' AS stat, "${c}__$st" AS value FROM w""")
      }.mkString("\nUNION ALL\n")
      s"WITH w AS (SELECT\n  $aggExprs\nFROM orders)\n$rows\nORDER BY \"column\", stat"
    },

    "q74_tfidf" ->
      """WITH toks AS (SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(text), '\s+'), x -> len(x) > 0)) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (SELECT doc_id, term,
        |    tf.tf * ln(CAST(n.n AS DOUBLE) / df.df) AS tfidf
        |  FROM tf JOIN df USING (term), n)
        |SELECT doc_id, term, round(tfidf, 6) AS tfidf,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term ASC) AS INTEGER) AS rank
        |FROM scored QUALIFY rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "q91_event_sequences" ->
      """SELECT user_id, count(*) AS n_events,
        |  array_to_string(list_slice(
        |    list(event_type ORDER BY ts, event_id), 1, 10), ',') AS seq10
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q146_transition_matrix" ->
      """WITH seq AS (SELECT user_id, event_type,
        |    coalesce(lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id), 'START') AS prev
        |  FROM events),
        |m AS (SELECT prev, event_type AS next, CAST(count(*) AS BIGINT) AS n
        |  FROM seq GROUP BY 1, 2)
        |SELECT prev, next, n,
        |  round(CAST(n AS DOUBLE) /
        |    sum(n) OVER (PARTITION BY prev), 6) AS share
        |FROM m ORDER BY prev, next""".stripMargin,

    "q92_negative_sampling" ->
      """WITH pos AS (SELECT DISTINCT o.o_custkey AS c_custkey,
        |    l.l_partkey AS p_partkey
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
        |np AS (SELECT count(*) AS n FROM part),
        |cand AS (SELECT c.c_custkey, s.slot,
        |    CAST(CAST(('0x' || substring(md5('negsamp:'
        |        || CAST(c.c_custkey AS VARCHAR) || ':'
        |        || CAST(s.slot AS VARCHAR)), 1, 8)) AS UBIGINT)
        |      % (SELECT n FROM np) AS BIGINT) AS p_partkey
        |  FROM customer c
        |  CROSS JOIN (SELECT unnest(range(0, 8)) AS slot) s),
        |neg AS (SELECT c.c_custkey, c.p_partkey, min(c.slot) AS slot
        |  FROM cand c ANTI JOIN pos p
        |    ON c.c_custkey = p.c_custkey AND c.p_partkey = p.p_partkey
        |  GROUP BY 1, 2)
        |SELECT c_custkey, CAST(row_number() OVER
        |    (PARTITION BY c_custkey ORDER BY slot) AS INTEGER) AS neg_rank,
        |  p_partkey FROM neg
        |QUALIFY neg_rank <= 4 ORDER BY c_custkey, neg_rank""".stripMargin,

    "q90_heavy_hitters" ->
      """SELECT user_id, count(*) AS n_events FROM events
        |GROUP BY 1 ORDER BY n_events DESC, user_id LIMIT 20""".stripMargin,

    "q89_range_join_windows" ->
      """WITH w AS (SELECT event_id AS window_id, ts AS w_from,
        |    ts + INTERVAL 2 HOUR AS w_to FROM events
        |  WHERE event_type = 'purchase' AND event_id % 50 = 0)
        |SELECT w.window_id, count(*) AS n_events,
        |  count(DISTINCT e.user_id) AS n_users,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events e JOIN w
        |  ON e.ts >= w.w_from AND e.ts < w.w_to
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // same oracle text as q89 — the two queries must agree with the
    // oracle AND (transitively) each other: operator path == rule path
    "q128_sql_range_join" ->
      """WITH w AS (SELECT event_id AS window_id, ts AS w_from,
        |    ts + INTERVAL 2 HOUR AS w_to FROM events
        |  WHERE event_type = 'purchase' AND event_id % 50 = 0)
        |SELECT w.window_id, count(*) AS n_events,
        |  count(DISTINCT e.user_id) AS n_users,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events e JOIN w
        |  ON e.ts >= w.w_from AND e.ts < w.w_to
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q126_sliding_window" ->
      s"""WITH slid AS (SELECT user_id, value,
        |    (epoch_us(ts) // 900000000) * 900000000 - i * 900000000 AS ws
        |  FROM events, range(0, 4) t(i))
        |SELECT strftime(make_timestamp(ws), '$TsFmtDuck') AS window_start,
        |  count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM slid GROUP BY ws ORDER BY window_start""".stripMargin,

    "q121_interval_overlap" ->
      """WITH p AS (SELECT event_id AS window_id, ts AS p_from,
        |    ts + INTERVAL 2 HOUR AS p_to FROM events
        |  WHERE event_type = 'purchase' AND event_id % 10 = 0),
        |i AS (SELECT event_id AS incident_id, ts AS i_from,
        |    ts + INTERVAL 3 HOUR AS i_to FROM events
        |  WHERE event_type = 'error' AND event_id % 10 = 0)
        |SELECT window_id, count(*) AS n_incidents,
        |  CAST(sum(epoch_us(least(p_to, i_to)) -
        |           epoch_us(greatest(p_from, i_from))) AS BIGINT)
        |    AS overlap_micros
        |FROM p JOIN i ON p_from < i_to AND i_from < p_to
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q88_reconcile_full_outer" ->
      """WITH e AS (SELECT user_id AS k, count(*) AS n_events
        |  FROM events GROUP BY 1),
        |o AS (SELECT o_custkey AS k, count(*) AS n_orders FROM orders
        |  WHERE o_custkey % 2 = 0 AND o_custkey < 300 GROUP BY 1)
        |SELECT coalesce(e.k, o.k) AS entity, e.n_events, o.n_orders,
        |  CASE WHEN e.k IS NOT NULL AND o.k IS NOT NULL THEN 'both'
        |       WHEN e.k IS NOT NULL THEN 'events_only'
        |       ELSE 'orders_only' END AS presence
        |FROM e FULL OUTER JOIN o ON e.k = o.k
        |ORDER BY entity""".stripMargin,

    "q87_incremental_rollup" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,

    "q86_scd2_intervals" ->
      s"""WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type AS state,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |changes AS (
        |  SELECT user_id, ts, event_id, state FROM marked
        |  WHERE prev IS NULL OR prev <> state),
        |iv AS (
        |  SELECT user_id, state, ts,
        |    lead(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS valid_to_ts
        |  FROM changes)
        |SELECT user_id, state,
        |  strftime(ts, '$TsFmtDuck') AS valid_from,
        |  strftime(valid_to_ts, '$TsFmtDuck') AS valid_to,
        |  valid_to_ts IS NULL AS is_current
        |FROM iv ORDER BY user_id, valid_from""".stripMargin,

    // q86's FULL-REBUILD text, verbatim: the incremental merge must be
    // row-identical to rebuilding the history from all events
    "q139_scd2_merge" ->
      s"""WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type AS state,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |changes AS (
        |  SELECT user_id, ts, event_id, state FROM marked
        |  WHERE prev IS NULL OR prev <> state),
        |iv AS (
        |  SELECT user_id, state, ts,
        |    lead(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS valid_to_ts
        |  FROM changes)
        |SELECT user_id, state,
        |  strftime(ts, '$TsFmtDuck') AS valid_from,
        |  strftime(valid_to_ts, '$TsFmtDuck') AS valid_to,
        |  valid_to_ts IS NULL AS is_current
        |FROM iv ORDER BY user_id, valid_from""".stripMargin,

    "q85_pq_adc_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id % 100 = 0),
        |sub AS (SELECT unnest(range(0, 4)) AS s),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |dist AS (
        |  SELECT e.vec_id, sub.s, cent.cid,
        |    list_sum([ (e.v[sub.s*16+i] - cent.cv[sub.s*16+i])
        |             * (e.v[sub.s*16+i] - cent.cv[sub.s*16+i])
        |               FOR i IN range(1, 17) ]) AS d
        |  FROM e, sub, cent),
        |codes AS (
        |  SELECT vec_id, s, cid FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, s
        |    ORDER BY d, cid) = 1),
        |dq AS (
        |  SELECT sub.s, cent.cid,
        |    list_sum([ (q.qv[sub.s*16+i] - cent.cv[sub.s*16+i])
        |             * (q.qv[sub.s*16+i] - cent.cv[sub.s*16+i])
        |               FOR i IN range(1, 17) ]) AS dq
        |  FROM q, sub, cent),
        |adc AS (
        |  SELECT c.vec_id,
        |    max(CASE WHEN c.s = 0 THEN c.cid END) AS c0,
        |    max(CASE WHEN c.s = 1 THEN c.cid END) AS c1,
        |    max(CASE WHEN c.s = 2 THEN c.cid END) AS c2,
        |    max(CASE WHEN c.s = 3 THEN c.cid END) AS c3,
        |    max(CASE WHEN c.s = 0 THEN dq.dq END) AS d0,
        |    max(CASE WHEN c.s = 1 THEN dq.dq END) AS d1,
        |    max(CASE WHEN c.s = 2 THEN dq.dq END) AS d2,
        |    max(CASE WHEN c.s = 3 THEN dq.dq END) AS d3
        |  FROM codes c JOIN dq ON c.s = dq.s AND c.cid = dq.cid
        |  GROUP BY c.vec_id)
        |SELECT vec_id AS id, c0, c1, c2, c3,
        |  round(d0 + d1 + d2 + d3, 6) AS adc_dist,
        |  row_number() OVER (ORDER BY d0 + d1 + d2 + d3, vec_id) AS rank
        |FROM adc QUALIFY rank <= 10 ORDER BY rank""".stripMargin,

    // q73/q132's probed-members CTEs composed with q85's codes/ADC CTEs,
    // restricted to the members — the IVF-PQ contract is exactly "q85's
    // scoring run only inside q73's probed lists"
    "q141_ivfpq_topk" -> ivfPqTopKSql,

    // two-stage refine: the q141 ADC shortlist (top-30) re-scored by
    // EXACT cosine against the raw vectors; final top-10 ranks by the
    // exact metric (SimilaritySearch.refineTopK scaladoc)
    "q154_ann_refine" ->
      s"""WITH $ivfPqAdcCte,
        |short AS (SELECT vec_id AS id FROM adc
        |  QUALIFY row_number() OVER (ORDER BY d0 + d1 + d2 + d3, vec_id)
        |    <= 30),
        |scored AS (SELECT s.id,
        |    list_cosine_similarity(e.v, q.qv) AS cosine
        |  FROM short s JOIN e ON e.vec_id = s.id, q)
        |SELECT id, round(cosine, 6) AS cosine,
        |  CAST(row_number() OVER (ORDER BY cosine DESC, id ASC)
        |    AS INTEGER) AS rank
        |FROM scored QUALIFY rank <= 10 ORDER BY rank""".stripMargin,

    // residual IVF-PQ: q72's cosine assignment → per-vector residual →
    // residual-space codebook (every 100th vector's residual) → per-s
    // argmin codes → per-PROBED-LIST query-residual ADC tables joined on
    // (list, s, code). Membership restriction = the inner join on cid.
    "q144_ivfpq_residual_topk" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (SELECT vec_id AS cid, v AS cvr FROM e WHERE vec_id % 200 = 0),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |assigned AS (SELECT e.vec_id AS id, c.cid FROM e, cent c
        |  QUALIFY row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_cosine_similarity(e.v, c.cvr) DESC, c.cid ASC) = 1),
        |resid AS (SELECT a.id, a.cid,
        |    [ e.v[i] - c.cvr[i] FOR i IN range(1, 65) ] AS r
        |  FROM assigned a JOIN e ON e.vec_id = a.id
        |  JOIN cent c ON c.cid = a.cid),
        |cb AS (SELECT id AS ccid, r AS cr FROM resid WHERE id % 100 = 0),
        |sub AS (SELECT unnest(range(0, 4)) AS s),
        |dist AS (SELECT resid.id, resid.cid, sub.s, cb.ccid,
        |    list_sum([ (resid.r[sub.s*16+i] - cb.cr[sub.s*16+i])
        |             * (resid.r[sub.s*16+i] - cb.cr[sub.s*16+i])
        |               FOR i IN range(1, 17) ]) AS d
        |  FROM resid, sub, cb),
        |codes AS (SELECT id, cid, s, ccid FROM dist
        |  QUALIFY row_number() OVER (PARTITION BY id, s
        |    ORDER BY d, ccid) = 1),
        |probed AS (SELECT cid FROM cent, q
        |  ORDER BY list_cosine_similarity(cvr, qv) DESC, cid ASC LIMIT 2),
        |qres AS (SELECT c.cid,
        |    [ q.qv[i] - c.cvr[i] FOR i IN range(1, 65) ] AS qr
        |  FROM cent c JOIN probed p ON p.cid = c.cid, q),
        |qd AS (SELECT qres.cid, sub.s, cb.ccid,
        |    list_sum([ (qres.qr[sub.s*16+i] - cb.cr[sub.s*16+i])
        |             * (qres.qr[sub.s*16+i] - cb.cr[sub.s*16+i])
        |               FOR i IN range(1, 17) ]) AS dq
        |  FROM qres, sub, cb),
        |adc AS (SELECT c.id, max(c.cid) AS list_cid,
        |    max(CASE WHEN c.s = 0 THEN qd.dq END) AS d0,
        |    max(CASE WHEN c.s = 1 THEN qd.dq END) AS d1,
        |    max(CASE WHEN c.s = 2 THEN qd.dq END) AS d2,
        |    max(CASE WHEN c.s = 3 THEN qd.dq END) AS d3
        |  FROM codes c JOIN qd ON c.cid = qd.cid AND c.s = qd.s
        |    AND c.ccid = qd.ccid
        |  GROUP BY c.id)
        |SELECT id, list_cid, round(d0 + d1 + d2 + d3, 6) AS adc_dist,
        |  row_number() OVER (ORDER BY d0 + d1 + d2 + d3, id) AS rank
        |FROM adc QUALIFY rank <= 10 ORDER BY rank""".stripMargin,

    // q141's SQL verbatim: the stored-index path must reproduce the
    // inline-build path row-for-row (stored centroids/assignments/
    // codebook/codes ≡ recomputed)
    "q143_ivfpq_index_topk" -> ivfPqTopKSql,

    // q154's SQL verbatim: the stored-index shortlist equals the inline
    // shortlist (q143's guarantee), and the refine tail is exact-metric
    // — so the composed serving entry matches the inline refine oracle
    "q158_ivfpq_refined_serving" ->
      s"""WITH $ivfPqAdcCte,
        |short AS (SELECT vec_id AS id FROM adc
        |  QUALIFY row_number() OVER (ORDER BY d0 + d1 + d2 + d3, vec_id)
        |    <= 30),
        |scored AS (SELECT s.id,
        |    list_cosine_similarity(e.v, q.qv) AS cosine
        |  FROM short s JOIN e ON e.vec_id = s.id, q)
        |SELECT id, round(cosine, 6) AS cosine,
        |  CAST(row_number() OVER (ORDER BY cosine DESC, id ASC)
        |    AS INTEGER) AS rank
        |FROM scored QUALIFY rank <= 10 ORDER BY rank""".stripMargin,

    "q182_semantic_outliers" ->
      """WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        |  FROM embeddings WHERE vec_id % 50 = 0),
        |scored AS (SELECT e.vec_id AS id, c.cid,
        |    list_cosine_similarity(e.embedding::DOUBLE[], c.cv) AS cos,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.cv) DESC,
        |        c.cid ASC) AS rn
        |  FROM embeddings e, c),
        |assigned AS (SELECT id, cid, cos FROM scored WHERE rn = 1),
        |ranked AS (SELECT id, cid, round(cos, 6) AS c6,
        |    row_number() OVER (PARTITION BY cid
        |      ORDER BY round(cos, 6) ASC, id ASC) AS rk,
        |    count(*) OVER (PARTITION BY cid) AS n
        |  FROM assigned)
        |SELECT id AS vec_id, cid, c6 AS cos_centroid,
        |  (rk * 10 <= n) AS is_outlier
        |FROM ranked ORDER BY vec_id""".stripMargin,

    "q188_decayed_engagement" ->
      """WITH ref AS (SELECT max(ts) AS t_ref FROM events),
        |t AS (SELECT user_id,
        |    exp(-0.09902102579427789 *
        |      (CAST(epoch_us(ref.t_ref) - epoch_us(ts) AS DOUBLE)
        |        / 86400000000.0)) AS dk,
        |    value
        |  FROM events, ref),
        |q AS (SELECT user_id,
        |    CAST(value * dk AS DECIMAL(38,18)) AS wv,
        |    CAST(dk AS DECIMAL(38,18)) AS wc
        |  FROM t)
        |SELECT user_id, count(*) AS n_events,
        |  round(CAST(sum(wv) AS DOUBLE), 6) AS decayed_value,
        |  round(CAST(sum(wc) AS DOUBLE), 6) AS decayed_count
        |FROM q GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q189_sequence_nll" ->
      """WITH seq AS (SELECT user_id, event_type,
        |    coalesce(lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id), 'START') AS prev
        |  FROM events),
        |m AS (SELECT prev, event_type AS next, count(*) AS n
        |  FROM seq GROUP BY 1, 2),
        |mt AS (SELECT prev, next, n, sum(n) OVER (PARTITION BY prev) AS nt
        |  FROM m),
        |sc AS (SELECT s.user_id,
        |    CAST(-ln(CAST(mt.n AS DOUBLE) / CAST(mt.nt AS DOUBLE))
        |      AS DECIMAL(38,18)) AS nll
        |  FROM seq s JOIN mt ON mt.prev = s.prev AND mt.next = s.event_type)
        |SELECT user_id, count(*) AS n_transitions,
        |  round(CAST(sum(nll) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
        |    AS avg_nll
        |FROM sc GROUP BY user_id ORDER BY user_id""".stripMargin
  )
}
