package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.DriverOps.footerRows

/**
 * Z-order (Morton-curve) data layout for multi-column data skipping —
 * the write-side twin of `Bucketing` (SURVEY §4 physical knobs).
 *
 * Parquet scans prune row groups by min/max statistics. Sorting by ONE
 * column gives perfect skipping on that column and none on any other;
 * interleaving the bits of k quantized columns into a single z-value and
 * range-partitioning + sorting by it gives every interleaved column
 * locality ~2^(bits·(k-1)/k) — each file covers a small HYPER-RECTANGLE
 * of the key space, so a selective predicate on ANY of the columns
 * skips most files. At 100 TB this is the difference between "scan the
 * table" and "read 1% of it" for the second and third filter column.
 *
 * Mechanics (all declarative, whole-stage-codegen'd):
 *  - quantize each column to `bits`-bit ranks with `width_bucket` over
 *    the column's min/max (one tiny agg job for the bounds);
 *  - interleave bits with shift/mask expressions → one LONG z-value
 *    (k·bits ≤ 63);
 *  - `repartitionByRange` on z (range exchange ≈ one shuffle, same cost
 *    class as any sort) + `sortWithinPartitions` so row groups within a
 *    file are tight too.
 *
 * `LayoutSpec` asserts the interleave arithmetic and the locality
 * property: per-partition bounding boxes of a z-ordered layout are
 * multiples smaller than a hash layout's. Uniform-width quantization is
 * skew-sensitive (a hot value crowds one bucket); for skewed columns
 * feed quantile boundaries instead of min/max linearity — the
 * interleave is boundary-agnostic.
 */
object Layout {

  /** Hive-style date-partitioned write: one directory per day of `ts`.
    * Partition pruning is COARSER-GRAINED and cheaper than row-group
    * skipping — a date predicate eliminates directories at PLANNING time
    * (no file footers read at all), which is why event/fact tables at
    * 100 TB are date-partitioned first and z-ordered/sorted within.
    * Day granularity keeps partition counts sane (a year ≈ 365 dirs);
    * hour-partitioning a decade of data makes 87k partitions and a
    * metadata bottleneck — partition on the coarsest unit queries
    * actually filter by. */
  def writeDatePartitioned(df: DataFrame, ts: String, path: String): Unit =
    df.withColumn("_day", to_date(col(ts)))
      .write.mode("overwrite").partitionBy("_day").parquet(path)

  /** Quantize `c` into [0, 2^bits) uniform-width ranks given inclusive
    * bounds. Out-of-range values clamp to the edge buckets. */
  def quantize(c: Column, lo: Column, hi: Column, bits: Int): Column = {
    val n = 1 << bits
    // degenerate lo==hi → single bucket 0
    val wb = when(hi <= lo, lit(1))
      .otherwise(width_bucket(c.cast("double"), lo.cast("double"),
        hi.cast("double"), lit(n)))
    least(greatest(wb - lit(1), lit(0)), lit(n - 1)).cast("long")
  }

  /** Morton interleave of pre-quantized [0, 2^bits) long columns:
    * bit i of column j lands at position i·k + j. Pure shift/mask
    * expression tree — stays in codegen. */
  def zValue(quantized: Seq[Column], bits: Int): Column = {
    val k = quantized.size
    require(k > 0 && k * bits <= 63, s"k=$k bits=$bits exceeds long range")
    val pieces = for {
      (q, j) <- quantized.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(shiftright(q, i).bitwiseAND(lit(1L)), i * k + j)
    pieces.reduce(_ bitwiseOR _)
  }

  /** Write `df` z-ordered by `cols` (bounds discovered from the data)
    * into `numFiles` range partitions at `path`. */
  def zorderWrite(df: DataFrame, cols: Seq[String], path: String,
                  numFiles: Int, bits: Int = 8): Unit =
    zordered(df, cols, numFiles, bits).write.mode("overwrite").parquet(path)

  /**
   * Small-files compaction for an append-only parquet directory — the
   * maintenance job every streaming sink needs: per-trigger appends
   * (T3's per-batch dirs, any `writeStream` parquet sink) accumulate
   * files far below the row-group sweet spot, and at 100 TB a scan's
   * task count and footer-read cost grow with FILE count, not byte
   * count. Rewrites the directory to ceil(totalBytes/targetBytes)
   * files: one range-free `repartition` of the snapshot, committed by
   * [[commitGeneration]] (verified-then-rename, the previous generation
   * deleted only AFTER the new one is in place). Files appended by a
   * racing trigger after the snapshot simply stay for the next run.
   * Job shape: the schema read of `dir` and the repartitioned write
   * (its shuffle and the write). Returns the new file count (or the
   * unchanged snapshot count when the directory is already at-or-under
   * target).
   */
  def compactParquet(spark: SparkSession, dir: String,
                     targetBytes: Long = 128L << 20): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val c = commitGeneration(spark, dir, "compactParquet", "compacted") {
      (fs, df, snapshot) =>
        val totalBytes = snapshot.map(p => fs.getFileStatus(p).getLen).sum
        val targetFiles =
          math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
        Option.when(snapshot.length > targetFiles)(
          Rewrite(snapshot.toSet, df.repartition(targetFiles)))
    }
    c.written + c.untouched
  }

  final case class DeleteStats(filesRewritten: Int, filesUntouched: Int,
                               rowsDeleted: Long)

  final case class UpsertStats(filesRewritten: Int, filesUntouched: Int,
                               rowsReplaced: Long, rowsInserted: Long)

  /**
   * Keyed point upsert into a flat parquet lake dir — the serving-store
   * write behind a PATCH-one-row API (reference:
   * src/api/main.py:554-586 updates one recommendation's status/notes
   * in place; here the lake IS the store). `updates` holds FULL rows
   * (same columns as the table, any order); rows whose key already
   * exists REPLACE the stored row, new keys INSERT. The whole upsert is
   * ONE [[commitGeneration]]: the new generation = (affected files
   * minus matched keys) ∪ updates, row-count-verified before any
   * destructive step — a crash at any point self-heals via
   * [[recoverCompaction]], and a reader never sees the key absent.
   *
   * Scale contract: this is the POINT-update path — `updates` is a
   * handful of rows, collected to the driver ONCE (bounded by
   * `maxKeys + 1`; the NULL-key, distinct-key and duplicate checks run
   * on that copy, and its keys prune the file scan). Only files
   * CONTAINING a matched key rewrite (parquet min/max skipping + a
   * z-ordered layout on the key make the probe read ~nothing else),
   * each into ONE new file holding its surviving rows and the updates
   * of its own keys, so neither the lake nor a file's key range grows;
   * keys no file holds (a pure insert rewrites no file at all) land
   * together as one new file. Bulk upserts belong to
   * [[graft.operators.Scd2]] / a partition-overwrite rebuild, not here.
   *
   * Job shape: the schema read of `dir`, the collect of `updates` (none
   * when it is a local frame), the affected-file probe, the write.
   */
  def upsertByKey(spark: SparkSession, dir: String, updates: DataFrame,
                  keyCol: String, maxKeys: Int = 1000): UpsertStats =
    upsert(spark, dir)(df =>
      upsertPlan(spark, df, updates, keyCol, maxKeys, probed = None))

  /** An upsert's [[commitGeneration]], with `plan` run on the table. */
  private def upsert(spark: SparkSession, dir: String)(
      plan: DataFrame => Rewrite): UpsertStats = {
    val c = commitGeneration(spark, dir, "upsertByKey", "upserted")(
      (_, df, _) => Some(plan(df)))
    UpsertStats(c.written, c.untouched, c.removed, c.added - c.removed)
  }

  /** The upsert's new generation over the table frame `df`. `probed` =
    * the [[matchCounts]] of the updates' keys when the caller has found
    * them already ([[patchRow]]'s probe); otherwise one probe finds
    * them. */
  private def upsertPlan(spark: SparkSession, df: DataFrame,
                         updates: DataFrame, keyCol: String, maxKeys: Int,
                         probed: Option[Map[(Path, Seq[Any]), Long]]): Rewrite = {
    require(updates.columns.sorted.sameElements(df.columns.sorted),
      s"upsertByKey: updates columns ${updates.columns.sorted.mkString(",")} " +
        s"must match table columns ${df.columns.sorted.mkString(",")}")
    val u = updates.select(df.columns.map(col): _*)
    // TYPES too, not just names: a pure insert writes the updates
    // verbatim as a new file — a mismatched type (v: INT vs the table's
    // DOUBLE) would land a conflicting physical schema and brick every
    // subsequent read of the directory
    val tTypes = df.schema.map(f => f.name -> f.dataType).toMap
    val badTypes = u.schema.filter(f => tTypes(f.name) != f.dataType)
    require(badTypes.isEmpty,
      "upsertByKey: update column type(s) differ from the table: " +
        badTypes.map(f =>
          s"${f.name}: ${f.dataType.simpleString} vs ${tTypes(f.name).simpleString}")
          .mkString(", "))
    val rows = u.limit(maxKeys + 1).collect()
    require(rows.length <= maxKeys,
      s"upsertByKey is the point-update path (> $maxKeys update rows); " +
        "use a partition rebuild for bulk upserts")
    require(rows.nonEmpty, "upsertByKey: empty updates")
    val keyIdx = df.columns.indexOf(keyCol)
    require(keyIdx >= 0, s"upsertByKey: no key column $keyCol in the table")
    val keys = rows.map(_.get(keyIdx)).distinct.toSeq
    // a NULL key can never equal a stored key (three-valued isin), so
    // it would re-insert on every replay instead of replacing — reject
    require(!keys.contains(null),
      s"upsertByKey: NULL $keyCol in updates — keys must be non-null")
    require(rows.length == keys.length,
      s"upsertByKey: duplicate keys in updates — one row per $keyCol")
    val pred = col(keyCol).isin(keys: _*)
    val hits = probed.getOrElse(matchCounts(df, pred, col(keyCol)))
    val matched = hits.values.sum
    // more matches than distinct keys ⇒ the STORED table already holds
    // a duplicated key (corruption outside the marker protocol) — fail
    // loudly rather than emit negative rowsInserted stats
    require(matched <= keys.length,
      s"upsertByKey: stored table holds duplicate $keyCol rows " +
        s"($matched matches for ${keys.length} keys) — repair the table " +
        "(deleteWhere + re-insert) before upserting")
    val keysOf = hits.keys.groupMap(_._1)(_._2.head).toSeq
      .sortBy(_._1.getName).map { case (p, ks) => p -> ks.toSet }
    def localOf(rs: Seq[Row]) =
      spark.createDataFrame(java.util.Arrays.asList(rs: _*), df.schema)
    val inserts = rows.toSeq.filterNot(r =>
      keysOf.exists(_._2.contains(r.get(keyIdx))))
    // each rewritten file's surviving rows and the updates of ITS keys
    // coalesce into ONE new file, so its key range (what min/max
    // skipping prunes on) does not widen; keys no file holds land
    // together as one more file. One write job for all of them: the
    // single-partition parts are concatenated as RDDs, because a
    // Dataset union of single-partition children is itself one
    // partition in Spark 4.
    val parts = keysOf.map { case (p, ks) =>
      spark.read.schema(df.schema).parquet(p.toString)
        .filter(!coalesce(pred, lit(false))) // NULL-key rows kept, as in deleteWhere
        .unionByName(localOf(rows.toSeq.filter(r => ks.contains(r.get(keyIdx)))))
    } ++ Seq(inserts).filter(_.nonEmpty).map(localOf)
    Rewrite(keysOf.map(_._1).toSet,
      spark.createDataFrame(
        spark.sparkContext.union(parts.map(_.coalesce(1).rdd)), df.schema),
      removed = matched, added = keys.length)
  }

  /**
   * PATCH-one-row semantics over the [[upsertByKey]] transaction
   * (reference: api/main.py:554-586): read the current row by key, fail
   * loudly when absent (the endpoint's 404), apply the partial
   * `setters` (column → new-value expression, evaluated against the
   * current row), write back.
   *
   * Job shape — three Spark jobs: the schema read of `dir` (done once
   * and shared with the upsert), ONE probe that returns the current row
   * with its `input_file_name()` (at most 2 rows per partition, which is
   * all the stored-duplicate guard needs), and the write. The setters
   * apply to a local (LocalRelation) copy of the probed row, so they
   * cost no job.
   */
  def patchRow(spark: SparkSession, dir: String, keyCol: String,
               keyValue: Any, setters: Map[String, Column]): UpsertStats =
    upsert(spark, dir) { df =>
      val bad = setters.keySet.filterNot(df.columns.contains)
      require(bad.isEmpty, s"patchRow: unknown column(s) ${bad.mkString(",")}")
      require(!setters.contains(keyCol), "patchRow cannot rewrite the key")
      val hits = df.filter(col(keyCol) === lit(keyValue))
        .select(col("*"), input_file_name())
        .rdd.mapPartitions(_.take(2)).collect()
      require(hits.nonEmpty,
        s"patchRow: no row with $keyCol = $keyValue (not found)")
      val current = spark.createDataFrame(
        java.util.List.of(Row.fromSeq(hits.head.toSeq.init)), df.schema)
      val updated = setters.foldLeft(current) { case (acc, (c, e)) =>
        acc.withColumn(c, e)
      }
      // two hits ⇒ the stored table duplicates the key: upsertPlan's
      // matched-vs-keys guard rejects it
      val keyIdx = df.columns.indexOf(keyCol)
      val probed = hits.toSeq.groupMapReduce(r =>
        (fileOf(r.getString(r.length - 1)), Seq(r.get(keyIdx))))(_ => 1L)(_ + _)
      upsertPlan(spark, df, updated, keyCol, maxKeys = 1, Some(probed))
    }

  /**
   * Targeted row deletion from a flat parquet directory — the
   * right-to-erasure / retention-purge maintenance job (the data-plane
   * half of the governance story whose release half is
   * `quality.Privacy`): rewrite ONLY the files that contain matching
   * rows and leave every other file physically untouched (same name,
   * same bytes — downstream caches and replication stay valid).
   *
   * At 100 TB the win is the file-pruning composition: finding the
   * affected files is a predicate scan, so parquet min/max skipping
   * (and a z-ordered layout on the predicate column — [[zorderWrite]])
   * means the files that DON'T contain the subject are never even
   * read, and the rewrite cost is ∝ files-containing-matches, not
   * table size. A table format's DELETE executes exactly this shape
   * internally.
   *
   * The kept rows of the affected files are one [[commitGeneration]],
   * so a crash at any point self-heals at the next entry of any
   * maintenance job. An affected file whose every row matches is simply
   * deleted (no empty rewrite file). Job shape: the schema read of
   * `dir`, the affected-file probe, the write.
   */
  def deleteWhere(spark: SparkSession, dir: String,
                  predicate: Column): DeleteStats = {
    val c = commitGeneration(spark, dir, "deleteWhere", "deleted") {
      (_, df, _) =>
        val hits = matchCounts(df, predicate)
        Option.when(hits.nonEmpty) {
          val files = hits.keySet.map(_._1)
          // NULL-predicate rows are KEPT: an erasure job deletes only rows
          // the predicate PROVES match (`hits` counts true rows only; a
          // plain !predicate would drop NULL rows from the rewrite too and
          // trip the row-count guard — the job could never complete on
          // NULL-bearing data)
          Rewrite(files, spark.read.schema(df.schema)
            .parquet(files.toSeq.map(_.toString): _*)
            .filter(!coalesce(predicate, lit(false))),
            removed = hits.values.sum)
        }
    }
    DeleteStats(c.written, c.untouched, c.removed)
  }

  /** The affected-file probe of [[deleteWhere]] and [[upsertByKey]]:
    * the rows of `df` matching `pred`, counted per (file, `by` values) in
    * ONE job. Each task returns its counts, never matched rows, so the
    * collect is bounded by the files (and `by` values) a task reads;
    * parquet min/max pruning decides which files are read at all. */
  private def matchCounts(df: DataFrame, pred: Column,
                          by: Column*): Map[(Path, Seq[Any]), Long] =
    df.filter(pred).select(input_file_name() +: by: _*).rdd
      .mapPartitions(_.foldLeft(Map.empty[(String, Seq[Any]), Long]) {
        (m, r) =>
          val k = (r.getString(0), r.toSeq.tail)
          m.updated(k, m.getOrElse(k, 0L) + 1L)
      }.iterator)
      .collect().toSeq
      .groupMapReduce { case ((f, vs), _) => (fileOf(f), vs) }(_._2)(_ + _)

  private def fileOf(inputFileName: String): Path =
    new Path(new java.net.URI(inputFileName))

  /** A maintenance job's change: the `superseded` snapshot files give
    * way to `rows`, which hold their rows minus `removed` plus `added`. */
  private final case class Rewrite(superseded: Set[Path], rows: DataFrame,
                                   removed: Long = 0L, added: Long = 0L)

  /** A commit's outcome: files written, snapshot files left in place,
    * and the [[Rewrite]]'s row deltas (all zero when nothing changed). */
  private final case class Committed(written: Int, untouched: Int,
                                     removed: Long, added: Long)

  /**
   * THE generation commit of every maintenance job on a flat parquet
   * directory ([[compactParquet]], [[deleteWhere]], [[upsertByKey]] and
   * [[patchRow]]). Protocol (rename-atomic FS semantics):
   *  1. [[recoverCompaction]] completes any crashed swap BEFORE `dir` is
   *     read (through a pending marker a read would see both
   *     generations); then `dir` is read once, and the SNAPSHOT is that
   *     frame's `inputFiles` — never a separate listing, so a file
   *     appended between list and read can be neither
   *     deleted-but-not-copied nor copied-but-not-deleted. The marker
   *     records bare file names resolved against `dir`, so a nested
   *     (hive-partitioned) layout is refused up front: partitioned
   *     tables are maintained per leaf directory.
   *  2. `rewrite` plans the change from (fs, table frame, snapshot);
   *     None leaves the directory as it is.
   *  3. the new generation lands in a per-generation side directory
   *     `<dir>_compact_tmp_<gen>` (unique per run, so a rerun's names
   *     never collide with a surviving generation);
   *  4. the row-count guard runs BEFORE any destructive step, from
   *     parquet footers: the written files must hold the superseded
   *     files' rows minus `removed` plus `added`;
   *  5. 0-row files are left out of the generation, unless the whole
   *     table is superseded and nothing else holds a row: then one stays,
   *     so the directory reads as an empty table with its schema;
   *  6. [[swapIn]] renames the files in as `<prefix>-<gen>-<i>.parquet`
   *     and deletes the superseded ones; the path's cached listings are
   *     refreshed.
   * Side reads use the table schema and counts come from footers, so
   * the commit itself runs only the write's jobs.
   *
   * Reader contract: the superseded files are DELETED at the swap, so a
   * plan over `dir` made before a commit fails with FILE_NOT_EXIST when
   * it executes after it and must be re-planned; readers and maintainers
   * of one directory must be serialized by the caller.
   */
  private def commitGeneration(spark: SparkSession, dir: String, op: String,
                               prefix: String)(
      rewrite: (FileSystem, DataFrame, Seq[Path]) => Option[Rewrite])
      : Committed = {
    val path = new Path(dir)
    val conf = spark.sessionState.newHadoopConf()
    val fs = path.getFileSystem(conf)
    recoverCompaction(spark, dir)
    val df = spark.read.parquet(dir)
    val snapshot = df.inputFiles.toSeq.map(new Path(_))
    val qualified = fs.makeQualified(path)
    snapshot.foreach { p =>
      require(fs.makeQualified(p).getParent == qualified,
        s"$op requires a FLAT directory; found nested file $p under $dir " +
          "— maintain partitioned layouts per leaf directory")
    }
    rewrite(fs, df, snapshot).fold(Committed(0, snapshot.length, 0L, 0L)) {
      rw =>
        val untouched = snapshot.length - rw.superseded.size
        val expected = footerRows(conf, rw.superseded) - rw.removed + rw.added
        val gen = java.util.UUID.randomUUID().toString.take(8)
        val tmp = new Path(dir + TmpInfix + gen)
        rw.rows.write.mode("overwrite").parquet(tmp.toString)
        val written = fs.listStatus(tmp).toSeq
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          .map(f => f.getPath -> footerRows(conf, Seq(f.getPath)))
        val got = written.map(_._2).sum
        require(got == expected,
          s"$op row-count mismatch ($got != $expected) — original left untouched")
        val kept = written.filter(_._2 > 0)
        val files = if (kept.isEmpty && untouched == 0) written.take(1) else kept
        swapIn(fs, path, tmp, files.zipWithIndex.map { case ((f, _), i) =>
          f.getName -> s"$prefix-$gen-$i.parquet"
        }, rw.superseded.toSeq.map(_.getName).sorted)
        // a long-lived plan over the dir (ApiShell's listing) must not
        // resolve the pre-swap file set
        spark.catalog.refreshByPath(dir)
        Committed(files.length, untouched, rw.removed, rw.added)
    }
  }

  /**
   * The swap step of [[commitGeneration]]: given a VERIFIED new
   * generation sitting in `tmp`, commit the marker, rename the
   * generation in, delete the superseded files, clean up. The marker IS
   * the transaction: written complete to a side name and renamed into
   * place (atomic — a crash mid-write strands only the ignored side
   * file, never a truncated marker whose R-lines would replay without
   * their D-lines), it records the tmp directory (`T` line) plus every
   * rename and delete, so [[recoverCompaction]] replays it idempotently
   * from ANY crash point — rename atomicity means each planned file
   * exists at exactly one of (tmp src, final dst). Maintenance jobs on
   * one directory must be SERIALIZED by the caller (one maintainer at a
   * time — the same contract every directory-level parquet maintainer
   * has). A second maintainer entering mid-job sweeps this job's side
   * directory as an orphan ([[recoverCompaction]]); after the marker is
   * committed that leaves R-lines no replay can complete.
   */
  private def swapIn(fs: FileSystem, path: Path, tmp: Path,
                     plan: Seq[(String, String)],
                     deletes: Seq[String]): Unit = {
    val marker = new Path(path, MarkerName)
    val markerTmp = new Path(path, MarkerTmpName)
    val out = fs.create(markerTmp, true)
    try out.write(
      (Seq(s"T ${tmp.getName}") ++
        plan.map { case (s, d) => s"R $s $d" } ++
        deletes.map(n => s"D $n")).mkString("\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    require(fs.rename(markerTmp, marker),
      s"maintenance marker rename failed: $markerTmp -> $marker " +
        "(nothing moved yet; original directory untouched)")
    plan.foreach { case (src, dst) =>
      require(fs.rename(new Path(tmp, src), new Path(path, dst)),
        s"maintenance rename failed: $src -> $dst (marker left in place; " +
          "recoverCompaction completes the swap)")
    }
    deletes.foreach(n => fs.delete(new Path(path, n), false))
    fs.delete(marker, false)
    fs.delete(tmp, true)
  }

  private val MarkerName = "_compaction_pending"
  // side name for the atomic marker write; underscore-prefixed so parquet
  // scans of the directory ignore it even if a crash strands it
  private val MarkerTmpName = "_compaction_pending.tmp"

  /** Complete an interrupted [[swapIn]] from its marker: finish the
    * planned renames still sitting in the side directory, then apply the
    * planned deletes, then drop the marker. Idempotent from any crash
    * point (each planned file exists at exactly one of its two
    * locations); a no-op without a marker. A stranded marker SIDE file
    * (crash mid-marker-write — the transaction never began) is simply
    * discarded. Runs at the entry of every maintenance job, before
    * [[commitGeneration]] reads the table. */
  def recoverCompaction(spark: SparkSession, dir: String): Unit = {
    val path = new Path(dir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new Path(path, MarkerName)
    // a .tmp marker means the crash happened BEFORE the transaction was
    // committed (the rename); nothing was moved — drop it and leave the
    // directory as-is (the tmp generation, if any, is swept below)
    fs.delete(new Path(path, MarkerTmpName), false)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val lines =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
          .split("\n").filter(_.nonEmpty)
        finally in.close()
      // the `T` line names the transaction's own tmp dir (a sibling of
      // `dir`); markers written before the per-generation tmp scheme
      // carry no T line and used the fixed legacy name
      val tmp = lines.headOption.collect {
        case t if t.startsWith("T ") => new Path(path.getParent, t.drop(2))
      }.getOrElse(new Path(dir + "_compact_tmp"))
      lines.filterNot(_.startsWith("T ")).foreach { line =>
        line.split(" ") match {
          case Array("R", src, dst) =>
            val d = new Path(path, dst)
            val s = new Path(tmp, src)
            if (!fs.exists(d)) {
              require(fs.exists(s) && fs.rename(s, d),
                s"compaction recovery cannot complete rename $src -> $dst")
            }
          case Array("D", name) =>
            fs.delete(new Path(path, name), false)
          case other =>
            throw new IllegalStateException(
              s"unrecognized compaction marker line: ${other.mkString(" ")}")
        }
      }
      fs.delete(marker, false)
      fs.delete(tmp, true)
    }
    // sweep pre-commit tmp garbage: any sibling generation dir with no
    // marker referencing it is a crash BEFORE the transaction committed
    // — the originals are intact, the orphan generation is dead weight
    val parent = path.getParent
    if (parent != null && fs.exists(parent)) {
      fs.listStatus(parent)
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith(path.getName + TmpInfix))
        .foreach(st => fs.delete(st.getPath, true))
      // the pre-per-generation fixed tmp name, same reasoning
      fs.delete(new Path(dir + "_compact_tmp"), true)
    }
  }

  // per-generation tmp-dir suffix: <dir>_compact_tmp_<gen>
  private val TmpInfix = "_compact_tmp_"

  /** The production fact-table layout, composed: Hive date partitions
    * (PLANNING-time pruning on the time predicate — directories are
    * eliminated before any footer is read) with rows Z-ORDERED inside
    * each partition (row-group min/max skipping on the non-time filter
    * columns). A day-range + key predicate then reads only the matching
    * day directories and, within them, only the row groups whose z-tight
    * min/max straddle the key — the two pruning layers multiply. One
    * shuffle (hash on day), bounds discovered in one tiny agg. */
  def writeDatePartitionedZordered(df: DataFrame, ts: String,
                                   zcols: Seq[String], path: String,
                                   bits: Int = 8): Unit = {
    val aggs = zcols.flatMap(c => Seq(min(col(c)), max(col(c))))
    val bounds = df.agg(aggs.head, aggs.tail: _*).head()
    val qs = zcols.zipWithIndex.map { case (c, i) =>
      quantize(col(c), lit(bounds.get(2 * i)), lit(bounds.get(2 * i + 1)), bits)
    }
    df.withColumn("_day", to_date(col(ts)))
      .withColumn("_z", zValue(qs, bits))
      .repartition(col("_day"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").partitionBy("_day").parquet(path)
  }

  /** The layout transform itself (exposed for spec/inspection). */
  def zordered(df: DataFrame, cols: Seq[String], numFiles: Int,
               bits: Int = 8): DataFrame = {
    val aggs = cols.flatMap(c => Seq(min(col(c)), max(col(c))))
    val bounds = df.agg(aggs.head, aggs.tail: _*).head()
    val qs = cols.zipWithIndex.map { case (c, i) =>
      quantize(col(c), lit(bounds.get(2 * i)), lit(bounds.get(2 * i + 1)), bits)
    }
    df.withColumn("_z", zValue(qs, bits))
      .repartitionByRange(numFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
  }
}
