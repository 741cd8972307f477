package graft.serve

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Serving-path query compilation (reference: src/api/main.py —
 * OpportunityFilter :156-168, dynamic predicate build :444-468, sort
 * whitelist + pagination :471-478, insights aggregations :652-761,
 * export :794-858; dashboard variants src/visualization/dashboard.py
 * :107-120).
 *
 * The reference compiles a validated filter struct into a SQLAlchemy
 * WHERE; here the same struct compiles into a `Column` conjunction that
 * Catalyst pushes into the scan (PushedFilters) — the "optimizer" the
 * reference delegated to Postgres is Catalyst. All functions are pure
 * plan transformations: nothing executes until the caller acts.
 *
 * Scale notes (100 TB): a serving layer over parquet at this scale keys
 * the recommendations dataset by date/org partitions so these predicates
 * prune partitions, not just rows; `page` is sort + global limit —
 * Spark's limit-after-sort only materializes the page via TakeOrdered.
 */
object Serve {

  /** Filter struct (reference: api/main.py:156-168). All fields optional;
    * present fields AND together (reference :444-468 — org lists OR). */
  final case class RecFilter(
      minScore: Option[Double] = None,
      maxScore: Option[Double] = None,
      confidenceLevels: Seq[String] = Nil,
      recommendationTypes: Seq[String] = Nil,
      orgIds: Seq[String] = Nil,
      createdFrom: Option[java.sql.Timestamp] = None,
      createdTo: Option[java.sql.Timestamp] = None)

  /** Compile the filter struct into one Column predicate. */
  def compile(f: RecFilter,
              score: Column = col("score"),
              confidence: Column = col("confidence"),
              recType: Column = col("recommendation_type"),
              org1: Column = col("org1_id"),
              org2: Column = col("org2_id"),
              createdAt: Column = col("created_at")): Column = {
    val preds: Seq[Column] = Seq(
      f.minScore.map(score >= _),
      f.maxScore.map(score <= _),
      Option.when(f.confidenceLevels.nonEmpty)(
        confidence.isin(f.confidenceLevels: _*)),
      Option.when(f.recommendationTypes.nonEmpty)(
        recType.isin(f.recommendationTypes: _*)),
      Option.when(f.orgIds.nonEmpty)(
        org1.isin(f.orgIds: _*) || org2.isin(f.orgIds: _*)),
      f.createdFrom.map(createdAt >= _),
      f.createdTo.map(createdAt <= _)).flatten
    preds.reduceOption(_ && _).getOrElse(lit(true))
  }

  /** Whitelisted dynamic sort + pagination (reference: api/main.py:167,
    * 471-478 — unknown sort keys fall back to score; limit 1-1000). */
  def page(df: DataFrame, sortBy: String, ascending: Boolean,
           limit: Int, offset: Int,
           whitelist: Set[String] = Set("score", "estimated_value", "created_at"))
      : DataFrame = {
    val key = if (whitelist.contains(sortBy)) sortBy else "score"
    val sorted = df.orderBy(if (ascending) col(key).asc else col(key).desc)
    val capped = math.min(math.max(limit, 1), 1000)
    (if (offset > 0) sorted.offset(offset) else sorted).limit(capped)
  }

  /** Insights summary (reference: api/main.py:663-676 A3): one row of
    * count / total value / avg score / high-value count / avg deal size. */
  def insightsSummary(df: DataFrame, score: Column = col("score"),
                      value: Column = col("estimated_value")): DataFrame = {
    val aggs = summaryAggs(score, value)
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** [[insightsSummary]]'s aggregates; `ApiShell.insights` computes them in
    * its one grouping-sets pass. */
  private[serve] def summaryAggs(score: Column = col("score"),
                                 value: Column = col("estimated_value"))
      : Seq[Column] = Seq(
    count(lit(1)).as("total_recommendations"),
    sum(value).as("total_estimated_value"),
    avg(score).as("avg_score"),
    sum((score > 0.8).cast("long")).as("high_value_count"),
    avg(value).as("avg_deal_size"))

  /** Health/status counts (reference: api/main.py health + status
    * endpoints, A8): one (entity, n) row per tracked frame. Each count
    * is a partial-agg scan; the union is rows = |entities|. */
  def healthCounts(frames: Seq[(String, DataFrame)]): DataFrame =
    frames.map { case (name, df) =>
      df.agg(count(lit(1)).as("n")).select(lit(name).as("entity"), col("n"))
    }.reduce(_.unionByName(_))

  /** Notification digest (reference: utils/notifications.py:120-199
    * email top-5 table, :225-262 Slack top-3 blocks, :276-316 Teams
    * card): every channel renders the same two pieces of data — the
    * top-N opportunities by score and the full-set headline stats
    * (total count, total estimated value) interpolated into the header.
    * This returns that exact frame: the top-N rows (rank column
    * included) with `n_total`/`total_value` repeated on each, so a
    * sender iterates one small result. Delivery (SMTP/webhook HTTP) is
    * intentionally out of scope — non-data-plane.
    *
    * Scale shape: top-N via TakeOrdered (never a global sort), headline
    * stats one partial-agg pass broadcast onto N rows. Money sums as
    * decimal(18,2) (order-invariant) and emits double. */
  def notifyDigest(recs: DataFrame, n: Int = 5,
                   score: Column = col("score"),
                   value: Column = col("estimated_value"),
                   tiebreak: Seq[Column] = Nil): DataFrame = {
    val stats = recs.agg(
      count(lit(1)).as("n_total"),
      sum(value.cast("decimal(18,2)")).cast("double").as("total_value"))
    graft.operators.TopK.globalTopK(recs, score.desc +: tiebreak, n)
      .crossJoin(broadcast(stats))
  }

  /** Per-dimension breakdown (reference: api/main.py:725-747 A4/A5). */
  def breakdown(df: DataFrame, dim: Column, score: Column = col("score"),
                value: Column = col("estimated_value")): DataFrame = {
    val aggs = breakdownAggs(score, value)
    df.groupBy(dim).agg(aggs.head, aggs.tail: _*)
  }

  /** [[breakdown]]'s aggregates per group. */
  private[serve] def breakdownAggs(score: Column = col("score"),
                                   value: Column = col("estimated_value"))
      : Seq[Column] = Seq(
    count(lit(1)).as("n"),
    sum(value).as("total_value"),
    avg(score).as("avg_score"))

  /** Daily trend, last `days` days from `asOf` (reference:
    * api/main.py:750-761 A6 — frozen asOf, not now(); SURVEY §7.4.3). */
  def dailyTrend(df: DataFrame, createdAt: Column, asOf: Column,
                 days: Int, value: Column = col("estimated_value")): DataFrame = {
    val aggs = trendAggs(value)
    df.filter(inTrend(createdAt, asOf, days))
      .groupBy(trendDay(createdAt))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy("day")
  }

  /** [[dailyTrend]]'s row filter, group key and aggregates. */
  private[serve] def inTrend(createdAt: Column, asOf: Column,
                             days: Int): Column =
    createdAt >= date_sub(asOf, days)
  private[serve] def trendDay(createdAt: Column): Column =
    to_date(createdAt).as("day")
  private[serve] def trendAggs(value: Column = col("estimated_value"))
      : Seq[Column] =
    Seq(count(lit(1)).as("n"), sum(value).as("total_value"))

  /** Export (reference: api/main.py:794-858 S13). */
  def exportCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def exportJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** JSON-lines scan closing the export loop: read what exportJson wrote
    * (or any JSONL feed) with an EXPLICIT schema — like readCsv, never
    * inference: schema inference is a full extra pass and its type
    * guesses drift between runs. Unknown fields are ignored; missing
    * fields null-fill — the tolerant-reader contract a feed needs. */
  def readJsonl(spark: org.apache.spark.sql.SparkSession, path: String,
                schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Bulk-CSV scan (reference S2: the Bulk API 2.0 fetch whose helpers the
    * reference never implemented — salesforce.py:345-379). An EXPLICIT
    * schema, never inferSchema: schema inference is a full extra pass over
    * the data (prohibitive at scale) and type-guesses drift between runs;
    * the >10k-row bulk routing rule (salesforce.py:409-412) is moot when
    * the reader is already distributed. */
  def readCsv(spark: org.apache.spark.sql.SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  /** Point-scoring path (reference: api/main.py:589-641 E3): the same
    * expression graph evaluated on a 1-row frame — correctness-identical
    * to the batch path by construction. */
  def scoreOne(pair: DataFrame, scoreExprs: Seq[(String, Column)]): DataFrame =
    scoreExprs.foldLeft(pair) { case (d, (name, c)) => d.withColumn(name, c) }

  /** Excel export (reference: api/main.py:794-858 `to_excel` — the one
    * export format previously declared unsupported, SURVEY §7.4.7). An
    * .xlsx is a ZIP of SpreadsheetML XML (ECMA-376), written here with
    * `java.util.zip` — zero dependencies. Strings are inline
    * (`t="inlineStr"`, XML-escaped), numerics/booleans native cells,
    * dates/timestamps ISO-8601 strings, nulls empty cells; row 1 is the
    * header.
    *
    * Scale contract: an Excel file is a SERVING artifact, not a data
    * sink — the format itself caps at 2^20 rows and a spreadsheet
    * consumer reads one file. Rows stream to the zip via
    * `toLocalIterator` (driver holds one partition at a time, never the
    * frame); `maxRows` fails LOUDLY on overflow rather than truncating
    * silently. The distributed export paths stay [[exportCsv]] /
    * [[exportJson]] — same split as the reference, whose Excel endpoint
    * exports an already-paged query. */
  def exportExcel(df: DataFrame, path: String, sheet: String = "export",
                  maxRows: Int = 1048575): Unit = {
    val names = df.schema.fieldNames
    def xml(s: String): String = s.flatMap {
      case '&' => "&amp;"
      case '<' => "&lt;"
      case '>' => "&gt;"
      case '"' => "&quot;"
      case c if c < ' ' && c != '\t' && c != '\n' && c != '\r' => ""
      case c => c.toString
    }
    def colRef(i: Int): String = {         // 0 -> A, 25 -> Z, 26 -> AA
      var n = i + 1; val sb = new StringBuilder
      while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
      sb.toString
    }
    def inlineStr(ref: String, s: String): String =
      s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${xml(s)}</t></is></c>"""
    def cell(ref: String, v: Any): String = v match {
      case null => ""
      case b: Boolean =>
        s"""<c r="$ref" t="b"><v>${if (b) 1 else 0}</v></c>"""
      // OOXML numeric cells must be W3C doubles EXCLUDING NaN/INF — a
      // <v>NaN</v> makes Excel reject the whole file as corrupt; render
      // non-finite values as inline text instead
      case d: Double if d.isNaN || d.isInfinite => inlineStr(ref, d.toString)
      case f: Float if f.isNaN || f.isInfinite => inlineStr(ref, f.toString)
      case n @ (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double) =>
        s"""<c r="$ref"><v>$n</v></c>"""
      case d: java.math.BigDecimal =>
        s"""<c r="$ref"><v>${d.toPlainString}</v></c>"""
      case other =>                        // strings, dates, timestamps → inline string
        inlineStr(ref, other.toString)
    }
    val zip = new java.util.zip.ZipOutputStream(
      new java.io.BufferedOutputStream(new java.io.FileOutputStream(path)))
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      zip.closeEntry()
    }
    // on ANY failure (row-cap overflow fires mid-stream) the half-written
    // file is deleted — a consumer polling the path must never pick up a
    // truncated spreadsheet that looks like a successful export
    var ok = false
    try {
      entry("[Content_Types].xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
        """</Types>""")
      entry("_rels/.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
        """</Relationships>""")
      entry("xl/workbook.xml",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
        """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        s"""<sheets><sheet name="${xml(sheet)}" sheetId="1" r:id="rId1"/></sheets></workbook>""")
      entry("xl/_rels/workbook.xml.rels",
        """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
        """</Relationships>""")
      zip.putNextEntry(new java.util.zip.ZipEntry("xl/worksheets/sheet1.xml"))
      def write(s: String): Unit =
        zip.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      write(names.zipWithIndex.map { case (h, i) =>
        cell(colRef(i) + "1", h) }.mkString("""<row r="1">""", "", "</row>"))
      var rowNum = 1
      val it = df.toLocalIterator()
      while (it.hasNext) {
        val row = it.next()
        rowNum += 1
        require(rowNum <= maxRows + 1,
          s"exportExcel: result exceeds $maxRows rows — the xlsx format " +
            "caps at 2^20 rows; page or aggregate the frame, or use " +
            "exportCsv/exportJson for data-sized results")
        write((0 until row.length).map { i =>
          cell(colRef(i) + rowNum.toString, if (row.isNullAt(i)) null else row.get(i))
        }.mkString(s"""<row r="$rowNum">""", "", "</row>"))
      }
      write("</sheetData></worksheet>")
      zip.closeEntry()
      ok = true
    } finally {
      try zip.close() catch { case e: Throwable => if (ok) throw e }
      if (!ok) java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(path))
    }
  }
}
