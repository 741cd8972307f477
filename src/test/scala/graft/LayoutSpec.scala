package graft

import org.apache.spark.sql.functions._

import graft.sources.Layout

/** Z-order layout: interleave arithmetic + the locality property that
  * justifies it (per-partition bounding boxes shrink vs hash layout). */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("compactParquet: many small files become few, rows identical, " +
      "no-op when already at target, partial tmp never pollutes reads") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact")
      .resolve("sink").toString
    val df = spark.range(10000)
      .selectExpr("id", "id % 7 AS k", "cast(id as double) * 1.5 AS v")
    df.repartition(40).write.parquet(dir) // the streaming-sink shape: 40 shards
    def files() = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(files().length === 40)
    val totalBytes = files().map(_.length).sum
    // target ~ quarter of the data per file → expect ~4 files
    val n = Layout.compactParquet(spark, dir, targetBytes = totalBytes / 4 + 1)
    assert(n < 10, s"expected few files, got $n")
    assert(files().length === n)
    val back = spark.read.parquet(dir)
    assert(back.count() === 10000)
    assert(back.agg(sum("v")).head.getDouble(0) ===
      df.agg(sum("v")).head.getDouble(0))
    // names+types (parquet read-back relaxes nullability by design)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    // already at target (budget = current bytes / current files ⇒
    // targetFiles ≥ n) → untouched, no rewrite
    val curBytes = files().map(_.length).sum
    val n2 = Layout.compactParquet(spark, dir, targetBytes = curBytes / n)
    assert(n2 === n && files().length === n)
    // no tmp residue
    assert(!new java.io.File(dir + "_compact_tmp").exists)
    // RE-compaction after more appends: unique generation names mean a
    // second run can never collide with (and delete) the first run's
    // output — the maintenance cadence compact/append/compact must
    // conserve every row
    spark.range(10000, 12000)
      .selectExpr("id", "id % 7 AS k", "cast(id as double) * 1.5 AS v")
      .repartition(10).write.mode("append").parquet(dir)
    Layout.compactParquet(spark, dir, targetBytes = Long.MaxValue)
    val all = spark.read.parquet(dir)
    assert(all.count() === 12000, "re-compaction lost or duplicated rows")
    assert(all.select("id").distinct.count() === 12000)
  }

  test("compactParquet: an interrupted swap (marker present, renames not " +
      "applied) recovers to exactly one complete generation") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-rec")
      .resolve("sink").toString
    val df = spark.range(1000).selectExpr("id", "cast(id as double) AS v")
    df.repartition(8).write.parquet(dir)
    // simulate the crash point with MAXIMUM exposure: verified generation
    // still in tmp, marker written, NO renames applied yet
    val tmp = dir + "_compact_tmp"
    df.repartition(1).write.parquet(tmp)
    val tmpFile = new java.io.File(tmp).listFiles
      .filter(_.getName.endsWith(".parquet")).head.getName
    val oldFiles = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getName)
    val marker = (Seq(s"R $tmpFile compacted-deadbeef-0.parquet") ++
      oldFiles.map(n => s"D $n")).mkString("\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_compaction_pending"), marker)
    // recovery runs automatically at compactParquet entry
    Layout.compactParquet(spark, dir, targetBytes = Long.MaxValue)
    val back = spark.read.parquet(dir)
    assert(back.count() === 1000, "recovery must complete the swap losslessly")
    assert(back.select("id").distinct.count() === 1000, "no duplicates")
    assert(!new java.io.File(dir, "_compaction_pending").exists)
    assert(!new java.io.File(tmp).exists)
  }

  test("compactParquet: a stranded marker SIDE file (crash mid-marker-write) " +
      "is discarded — no partial transaction ever replays") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-tmpm")
      .resolve("sink").toString
    val df = spark.range(500).selectExpr("id", "cast(id as double) AS v")
    df.repartition(6).write.parquet(dir)
    // a truncated .tmp marker: R-lines only, D-lines lost — the exact
    // artifact a non-atomic write could strand. Under the atomic protocol
    // it was never renamed into place, so it must be ignored entirely.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_compaction_pending.tmp"),
      "R whatever.parquet compacted-bad-0.parquet")
    val n = Layout.compactParquet(spark, dir, targetBytes = Long.MaxValue)
    assert(n >= 1)
    val back = spark.read.parquet(dir)
    assert(back.count() === 500)
    assert(back.select("id").distinct.count() === 500)
    assert(!new java.io.File(dir, "_compaction_pending.tmp").exists)
    assert(!new java.io.File(dir, "_compaction_pending").exists)
  }

  test("compactParquet refuses a nested (partitioned) directory") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-nested")
      .resolve("sink").toString
    spark.range(100).selectExpr("id", "id % 3 AS p")
      .write.partitionBy("p").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Layout.compactParquet(spark, dir, targetBytes = 1L)
    }
    assert(e.getMessage.contains("FLAT"))
    // and the refusal left the directory fully intact
    assert(spark.read.parquet(dir).count() === 100)
  }

  test("deleteWhere rewrites only files containing matches; untouched " +
      "files keep their exact names; counts reconcile; no-match no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft-delete")
      .resolve("table").toString
    // range-partition on user so each user's rows live in few files —
    // the layout that makes targeted deletion cheap
    val df = spark.range(8000)
      .selectExpr("id", "id % 40 AS user", "cast(id as double) AS v")
    df.repartitionByRange(8, col("user")).write.parquet(dir)
    def files() = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val before = files()
    val beforeCount = spark.read.parquet(dir).count()
    val matched = spark.read.parquet(dir).filter(col("user") === 7).count()
    assert(matched > 0)
    val stats = graft.sources.Layout.deleteWhere(spark, dir,
      col("user") === 7)
    assert(stats.rowsDeleted === matched)
    val after = files()
    // untouched originals survive BY NAME; only affected files replaced
    val untouchedOriginals = before.intersect(after)
    assert(untouchedOriginals.size === stats.filesUntouched)
    assert(after.diff(before).forall(_.startsWith("deleted-")))
    assert(after.size === untouchedOriginals.size + stats.filesRewritten)
    val back = spark.read.parquet(dir)
    assert(back.count() === beforeCount - matched)
    assert(back.filter(col("user") === 7).count() === 0L)
    // every non-matching row survived exactly (value checksum)
    assert(back.agg(sum("v")).head.getDouble(0) ===
      df.filter(col("user") =!= 7).agg(sum("v")).head.getDouble(0))
    // idempotent: a second call touches nothing
    val again = graft.sources.Layout.deleteWhere(spark, dir,
      col("user") === 7)
    assert(again === graft.sources.Layout.DeleteStats(0, after.size, 0L))
    assert(files() === after)
  }

  test("upsertByKey: replace rewrites only key-bearing files, insert " +
      "rewrites none, re-upsert is idempotent, everyone else survives " +
      "by name and byte") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert")
      .resolve("table").toString
    val df = spark.range(8000)
      .selectExpr("id", "id % 40 AS user", "cast(id as double) AS v")
    df.repartitionByRange(8, col("id")).write.parquet(dir)
    def files() = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val before = files()
    // replace two rows living in DIFFERENT range files + insert one new
    val updates = Seq((10L, 99L, -1.0), (7900L, 99L, -2.0),
      (50000L, 99L, -3.0)).toDF("id", "user", "v")
    val stats = Layout.upsertByKey(spark, dir, updates, "id")
    assert(stats.rowsReplaced === 2L && stats.rowsInserted === 1L)
    val after = files()
    assert(before.intersect(after).size === stats.filesUntouched)
    assert(after.diff(before).forall(_.startsWith("upserted-")))
    val back = spark.read.parquet(dir)
    assert(back.count() === 8001)
    assert(back.filter(col("user") === 99).count() === 3L)
    assert(back.filter(col("id") === 10L).select("v").head.getDouble(0) === -1.0)
    // untouched rows byte-identical (checksum over the complement)
    assert(back.filter(!col("id").isin(10L, 7900L, 50000L))
      .agg(sum("v")).head.getDouble(0) ===
      df.filter(!col("id").isin(10L, 7900L)).agg(sum("v")).head.getDouble(0))
    // idempotent: the same upsert again replaces 3, inserts 0, and the
    // table state is unchanged
    val again = Layout.upsertByKey(spark, dir, updates, "id")
    assert(again.rowsReplaced === 3L && again.rowsInserted === 0L)
    assert(spark.read.parquet(dir).count() === 8001)
    assert(spark.read.parquet(dir).filter(col("user") === 99).count() === 3L)
    // pure insert: no existing file rewrites
    val ins = Seq((60000L, 1L, 5.0)).toDF("id", "user", "v")
    val preIns = files()
    val insStats = Layout.upsertByKey(spark, dir, ins, "id")
    assert(insStats.rowsReplaced === 0L && insStats.rowsInserted === 1L)
    assert(preIns.subsetOf(files()), "pure insert must not rewrite files")
    // duplicate keys in updates rejected
    intercept[IllegalArgumentException] {
      Layout.upsertByKey(spark, dir,
        Seq((1L, 1L, 1.0), (1L, 1L, 2.0)).toDF("id", "user", "v"), "id")
    }
    // NULL key rejected (would re-insert on every replay, never replace)
    intercept[IllegalArgumentException] {
      Layout.upsertByKey(spark, dir,
        Seq((None: Option[Long], 1L, 1.0)).toDF("id", "user", "v"), "id")
    }
    // schema mismatch rejected
    intercept[IllegalArgumentException] {
      Layout.upsertByKey(spark, dir, Seq((1L, 1L)).toDF("id", "user"), "id")
    }
    // TYPE mismatch rejected: a pure insert with v: INT would land a
    // conflicting physical schema and brick every later read
    intercept[IllegalArgumentException] {
      Layout.upsertByKey(spark, dir,
        Seq((70000L, 1L, 5)).toDF("id", "user", "v"), "id")
    }
  }

  test("upsertByKey refuses a table that already duplicates the key " +
      "(corruption outside the marker protocol) — no negative stats") {
    val dir = java.nio.file.Files.createTempDirectory("graft-updup")
      .resolve("table").toString
    spark.range(10).selectExpr("id", "cast(id as double) AS v")
      .write.parquet(dir)
    // duplicate key 3 via a raw append (bypassing the upsert protocol)
    Seq((3L, 99.0)).toDF("id", "v").write.mode("append").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      Layout.upsertByKey(spark, dir, Seq((3L, 1.0)).toDF("id", "v"), "id")
    }
    assert(e.getMessage.contains("duplicate"))
    // patchRow's probe sees both stored rows and trips the same guard
    val p = intercept[IllegalArgumentException] {
      Layout.patchRow(spark, dir, "id", 3L, Map("v" -> lit(1.0)))
    }
    assert(p.getMessage.contains("duplicate"))
    assert(spark.read.parquet(dir).count() === 11L, "table left untouched")
  }

  test("patchRow: partial setters evaluate against the current row; " +
      "missing key fails loudly (the endpoint 404); key not writable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-patch")
      .resolve("table").toString
    spark.range(100)
      .selectExpr("id", "'new' AS status", "cast(id as double) AS v")
      .write.parquet(dir)
    // setter referencing the CURRENT row's value (v = v * 2)
    val st = Layout.patchRow(spark, dir, "id", 42L,
      Map("status" -> lit("converted"), "v" -> col("v") * 2))
    assert(st.rowsReplaced === 1L && st.rowsInserted === 0L)
    val row = spark.read.parquet(dir).filter(col("id") === 42L).head
    assert(row.getAs[String]("status") === "converted")
    assert(row.getAs[Double]("v") === 84.0)
    assert(spark.read.parquet(dir).count() === 100)
    // 404 semantics
    intercept[IllegalArgumentException] {
      Layout.patchRow(spark, dir, "id", 12345L, Map("status" -> lit("x")))
    }
    // unknown column + key rewrite rejected
    intercept[IllegalArgumentException] {
      Layout.patchRow(spark, dir, "id", 42L, Map("ghost" -> lit(1)))
    }
    intercept[IllegalArgumentException] {
      Layout.patchRow(spark, dir, "id", 42L, Map("id" -> lit(1L)))
    }
  }

  test("patchRow on an 8-file table: at most 3 Spark jobs (schema read, " +
      "probe, write), one file rewritten per PATCH, file count unchanged") {
    val dir = java.nio.file.Files.createTempDirectory("graft-patch-jobs")
      .resolve("table").toString
    spark.range(800)
      .selectExpr("id", "'new' AS status", "cast(id as double) AS v")
      .repartitionByRange(8, col("id")).write.parquet(dir)
    def parquetFiles() =
      new java.io.File(dir).listFiles.count(_.getName.endsWith(".parquet"))
    assert(parquetFiles() === 8)
    val n = jobsOf {
      Layout.patchRow(spark, dir, "id", 421L,
        Map("status" -> lit("converted"), "v" -> (col("v") + 1)))
    }
    assert(n <= 3, s"patchRow ran $n Spark jobs")
    assert(parquetFiles() === 8, "lake grew after the first PATCH")
    Seq(5L, 5L).foreach { id =>
      val st = Layout.patchRow(spark, dir, "id", id,
        Map("status" -> lit("converted")))
      assert(st.filesRewritten === 1 && st.filesUntouched === 7)
      assert(parquetFiles() === 8, s"lake grew after patching $id")
    }
    val back = spark.read.parquet(dir)
    assert(back.count() === 800L)
    assert(back.filter(col("status") === "converted")
      .select("id").as[Long].collect().sorted.toSeq === Seq(5L, 421L))
    assert(back.filter(col("id") === 421L).select("v").as[Double].head === 422.0)
  }

  test("deleteWhere of one key on an 8-file table: at most 4 Spark jobs " +
      "(schema read, probe, write)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-delete-jobs")
      .resolve("table").toString
    spark.range(800)
      .selectExpr("id", "'new' AS status", "cast(id as double) AS v")
      .repartitionByRange(8, col("id")).write.parquet(dir)
    var stats: Layout.DeleteStats = null
    val n = jobsOf {
      stats = Layout.deleteWhere(spark, dir, col("id") === 421L)
    }
    assert(n <= 4, s"deleteWhere ran $n Spark jobs")
    assert(stats === Layout.DeleteStats(1, 7, 1L))
    val back = spark.read.parquet(dir)
    assert(back.count() === 799L && back.filter(col("id") === 421L).isEmpty)
  }

  test("compactParquet of 16 small files: at most 3 Spark jobs (schema " +
      "read, shuffle, write)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-compact-jobs")
      .resolve("sink").toString
    val df = spark.range(800).selectExpr("id", "cast(id as double) AS v")
    df.repartition(16).write.parquet(dir)
    var files = 0
    val n = jobsOf { files = Layout.compactParquet(spark, dir) }
    assert(n <= 3, s"compactParquet ran $n Spark jobs")
    assert(files === 1)
    val back = spark.read.parquet(dir)
    assert(back.count() === 800L)
    assert(back.agg(sum("v")).head.getDouble(0) ===
      df.agg(sum("v")).head.getDouble(0))
  }

  test("upsertByKey over keys of two files: each rewritten file keeps its " +
      "own key range, inserts land in one new file") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert-ranges")
      .resolve("table").toString
    spark.range(800).selectExpr("id", "cast(id as double) AS v")
      .repartitionByRange(8, col("id")).write.parquet(dir)
    val st = Layout.upsertByKey(spark, dir,
      Seq((150L, -1.0), (650L, -1.0), (900L, -1.0)).toDF("id", "v"), "id")
    assert(st.filesRewritten === 3 && st.filesUntouched === 6)
    assert(st.rowsReplaced === 2L && st.rowsInserted === 1L)
    val ranges = spark.read.parquet(dir)
      .groupBy(input_file_name()).agg(min("id"), max("id"))
      .as[(String, Long, Long)].collect().map(r => (r._2, r._3)).sorted
    assert(ranges.length === 9)
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping file key ranges: ${ranges.mkString(" ")}")
    }
    val back = spark.read.parquet(dir)
    assert(back.count() === 801L)
    assert(back.filter(col("v") === -1.0).select("id").as[Long].collect()
      .sorted.toSeq === Seq(150L, 650L, 900L))
  }

  test("deleteWhere keeps rows where the predicate is NULL (erase only " +
      "proven matches) and still completes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-delete-null")
      .resolve("table").toString
    spark.range(300)
      .selectExpr("id", "CASE WHEN id % 5 = 4 THEN NULL ELSE id % 5 END AS k")
      .repartition(4).write.parquet(dir)
    val stats = graft.sources.Layout.deleteWhere(spark, dir, col("k") === 3)
    assert(stats.rowsDeleted === 60L)
    val back = spark.read.parquet(dir)
    assert(back.count() === 240L)
    assert(back.filter(col("k").isNull).count() === 60L) // NULLs survived
    assert(back.filter(col("k") === 3).count() === 0L)
  }

  test("deleteWhere: a file whose every row matches is deleted outright") {
    val dir = java.nio.file.Files.createTempDirectory("graft-delete-all")
      .resolve("table").toString
    // user is the range key AND file boundary: user 0's file is all-match
    spark.range(300).selectExpr("id", "id % 3 AS user")
      .repartitionByRange(3, col("user")).write.parquet(dir)
    def files() = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val before = files()
    val userZero = spark.read.parquet(dir).filter(col("user") === 0)
      .select(input_file_name()).distinct().as[String].collect()
      .map(f => new org.apache.hadoop.fs.Path(new java.net.URI(f)).getName)
      .toSet
    assert(before.size === 3 && userZero.size === 1)
    val stats = graft.sources.Layout.deleteWhere(spark, dir,
      col("user") === 0)
    assert(stats === Layout.DeleteStats(0, 2, 100L))
    // the all-match file is gone and no empty rewrite file took its place
    assert(files() === before -- userZero)
    val back = spark.read.parquet(dir)
    assert(back.count() === 200L)
    assert(back.filter(col("user") === 0).count() === 0L)
  }

  test("deleteWhere of every row leaves an empty table that keeps the " +
      "original schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-delete-every")
      .resolve("table").toString
    val df = spark.range(200)
      .selectExpr("id", "id % 4 AS user", "cast(id as double) AS v")
    df.repartition(4).write.parquet(dir)
    def files() = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val stats = Layout.deleteWhere(spark, dir, col("id") >= 0)
    // one 0-row file stays: a directory without one has no schema to read
    assert(stats === Layout.DeleteStats(1, 0, 200L))
    assert(files().size === 1 && files().forall(_.startsWith("deleted-")))
    val back = spark.read.parquet(dir)
    assert(back.count() === 0L)
    assert(back.schema.map(f => (f.name, f.dataType)) ===
      df.schema.map(f => (f.name, f.dataType)))
    assert(Layout.deleteWhere(spark, dir, col("id") >= 0) ===
      Layout.DeleteStats(0, 1, 0L))
  }

  test("date-partitioned write prunes partitions at planning time") {
    val dir = java.nio.file.Files.createTempDirectory("graft-datepart").toString
    val ev = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "value")
    Layout.writeDatePartitioned(ev, "ts", dir)
    val q = spark.read.parquet(dir)
      .filter(col("_day") === "2024-01-05")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_day"),
      s"date predicate must become a partition filter:\n$plan")
    // pruning is real: the scan touches only the matching directory
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(!scanned.contains("_day=2024-01-06"),
      "non-matching day directories must not be listed in the scan")
    // and the data comes back intact for that day
    val expected = ev.filter(to_date(col("ts")) === "2024-01-05").count()
    assert(q.count() === expected && expected > 0)
  }

  test("writeDatePartitionedZordered: day-range predicate prunes partitions " +
      "at planning time AND the key predicate reaches the scan as a " +
      "pushed filter (the q136 layout claim)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lake").toString
    val ev = graft.sources.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select("event_id", "ts", "user_id", "value")
    Layout.writeDatePartitionedZordered(ev, "ts", Seq("user_id", "value"),
      s"$dir/lake")
    val q = spark.read.parquet(s"$dir/lake")
      .filter(col("_day").between("2024-01-08", "2024-01-12") &&
        col("user_id") < 30)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("_day"),
      s"day range must prune partitions:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(user_id"),
      s"user_id must reach the scan as a pushed filter:\n$plan")
    val scanned = q.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).mkString
    assert(!scanned.contains("_day=2024-01-20"),
      "out-of-range day directories must not be listed in the scan")
    // and the rewrite conserved the filtered rows exactly
    val expected = ev.filter(to_date(col("ts")).between("2024-01-08",
      "2024-01-12") && col("user_id") < 30)
    assert(q.count() === expected.count() && expected.count() > 0)
  }

  test("zValue interleaves bits: bit i of column j → position i·k + j") {
    // x=0b0011, y=0b0101, bits=4, k=2:
    // x bits land at even positions 0,2,4,6 → 0b00000101 = 5
    // y bits land at odd positions 1,3,5,7  → 0b01000100 ... compute:
    // y=0101: bit0=1→pos1(2), bit1=0, bit2=1→pos5(32) ⇒ 34
    // x=0011: bit0=1→pos0(1), bit1=1→pos2(4)          ⇒ 5  ⇒ z=39
    val z = Seq((3L, 5L)).toDF("x", "y")
      .select(Layout.zValue(Seq(col("x"), col("y")), 4).as("z"))
      .as[Long].head()
    assert(z === 39L)
  }

  test("quantize maps bounds to edge buckets and clamps outliers") {
    val df = Seq(0.0, 50.0, 100.0, -7.0, 250.0).toDF("v")
    val got = df.select(
      Layout.quantize(col("v"), lit(0.0), lit(100.0), bits = 2).as("q"))
      .as[Long].collect().toSeq
    assert(got === Seq(0L, 2L, 3L, 0L, 3L))
  }

  test("z-ordered partitions cover far smaller bounding boxes than hash layout") {
    // uniform 64×64 grid; 16 output partitions
    val grid = spark.range(0, 4096).select(
      (col("id") % 64).as("x"), (col("id") / 64).cast("long").as("y"))

    def area(df: org.apache.spark.sql.DataFrame): Long =
      df.withColumn("p", spark_partition_id())
        .groupBy("p").agg(
          ((max("x") - min("x") + 1) * (max("y") - min("y") + 1)).as("a"))
        .agg(sum("a")).as[Long].head()

    val zArea = area(Layout.zordered(grid, Seq("x", "y"), numFiles = 16,
      bits = 6))
    val hashArea = area(grid.repartition(16, col("x"), col("y")))
    // hash layout: every partition spans ~the whole grid (~16·4096);
    // z layout: 16 tiles of ~256 cells each (~4096 total)
    assert(zArea * 4 <= hashArea,
      s"expected ≥4× locality win, got z=$zArea hash=$hashArea")
  }
}
