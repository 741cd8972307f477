package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every draw comes from a `java.util.Random`
  * seeded by (seed, purpose), so one seed always gives the same frames. */
object Gen {
  private def rng(seed: Long, salt: Int) = new java.util.Random(seed * 1000003L + salt)

  private val prefixes = Vector("Acme", "Apex", "Atlas", "Beacon", "Blue",
    "Bright", "Cedar", "Crest", "Delta", "Eagle", "Echo", "Falcon", "First",
    "Global", "Golden", "Granite", "Harbor", "Horizon", "Iron", "Keystone",
    "Liberty", "Maple", "Meridian", "Metro", "Nova", "Oak", "Omega", "Orion",
    "Pacific", "Peak", "Pine", "Pioneer", "Prime", "Quantum", "Redwood",
    "Ridge", "River", "Sierra", "Silver", "Summit", "Titan", "Trident",
    "Union", "Vanguard", "Vertex", "Vista", "Zenith", "Northwind",
    "Southgate", "Everest", "Coastal", "Heritage", "Pinnacle", "Sterling",
    "Cobalt", "Aurora", "Lakeside", "Highland", "Evergreen", "Bluewater")
  private val consonants = "bcdfghjklmnprstvwz".map(_.toString).toVector
  private val vowels = "aeiouy".map(_.toString).toVector
  private val middles = Vector("North", "Digital", "American", "International",
    "Advanced", "Smart", "Green", "Applied", "Integrated", "Strategic",
    "United", "Premier")
  private val cores = Vector("Analytics", "Logistics", "Health", "Capital",
    "Systems", "Foods", "Energy", "Networks", "Labs", "Media", "Partners",
    "Robotics", "Pharma", "Retail", "Software", "Solutions", "Dynamics",
    "Holdings", "Ventures", "Materials", "Biotech", "Motors", "Insurance",
    "Consulting", "Devices", "Cloud", "Security", "Textiles", "Marine",
    "Aerospace", "Telecom", "Water", "Chemicals", "Finance", "Learning",
    "Studios", "Outfitters", "Brewing", "Farms", "Instruments")
  private val legal = Vector("Inc", "LLC", "Ltd", "Corp", "Corporation",
    "Group", "Co", "GmbH", "PLC", "")
  private val tlds = Vector("com", "io", "net", "co", "org")
  val countries = Vector("USA", "USA", "USA", "UK", "UK", "Germany", "France",
    "Canada", "Japan", "Brazil", "India")
  val industries = Vector("Technology", "Finance", "Healthcare", "Retail",
    "Manufacturing", "Energy", "Media", "Logistics")
  private val types = Vector("Customer", "Customer", "Customer", "Customer",
    "Customer", "Prospect", "Prospect", "Prospect", "Partner", "Partner")

  private final case class Entity(name: String, domain: String,
                                  country: String, industry: String,
                                  employees: Double, revenue: Double,
                                  kind: String, createdDay: Int,
                                  activityDay: Int)

  private def entity(r: java.util.Random): Entity = {
    def pick[A](v: Vector[A]) = v(r.nextInt(v.size))
    // mostly invented brand words (consonant-vowel-consonant-...), so the
    // blocking key's 3-letter prefix is shared about as rarely as among
    // real company names; a tenth reuse common words ("Pioneer", "Global")
    val p = if (r.nextDouble() < 0.1) pick(prefixes)
      else (0 until 4 + r.nextInt(4)).map(i =>
        if (i % 2 == 0) pick(consonants) else pick(vowels)).mkString.capitalize
    val m = if (r.nextDouble() < 0.35) Some(pick(middles)) else None
    val c = pick(cores)
    val l = pick(legal)
    val name = (Seq(p) ++ m ++ Seq(c) ++ Seq(l).filter(_.nonEmpty)).mkString(" ")
    val domain = (p + m.getOrElse("") + c).toLowerCase + "." + pick(tlds)
    val emp = math.floor(math.exp(5.0 + 1.5 * r.nextGaussian())) + 1
    Entity(name, domain, pick(countries), pick(industries), emp,
      math.exp(15.0 + 1.5 * r.nextGaussian()), pick(types),
      r.nextInt(1000), r.nextInt(365))
  }

  /** A second CRM's spelling of the same company: legal-suffix swaps,
    * case and punctuation changes, a typo past the first word, a dropped
    * middle word, and website variants including a missing one. */
  private def variant(e: Entity, r: java.util.Random): Entity = {
    var words = e.name.split(" ").toVector
    val edits = 1 + r.nextInt(2)
    (0 until edits).foreach { _ =>
      r.nextInt(6) match {
        case 0 =>
          val last = words.last
          val swapped = last match {
            case "Inc" => "Incorporated"
            case "Corp" => "Corporation"
            case "Corporation" => "Corp"
            case "LLC" => "L.L.C."
            case "Ltd" => "Limited"
            case "Co" => "Company"
            case _ => "Inc"
          }
          words = if (legal.contains(last) && r.nextBoolean()) words.init
            else if (legal.contains(last)) words.init :+ swapped
            else words :+ swapped
        case 1 => words = words.map(w => if (r.nextBoolean()) w.toUpperCase else w)
        case 2 if words.size > 2 => words = words.patch(1, Nil, 1)
        case 3 if words.size > 1 =>
          val i = 1 + r.nextInt(words.size - 1)
          val w = words(i)
          if (w.length > 3) {
            val j = 1 + r.nextInt(w.length - 2)
            words = words.updated(i,
              w.substring(0, j) + w.charAt(j + 1) + w.charAt(j) + w.substring(j + 2))
          }
        case 4 => words = words.init :+ (words.last + ",")
        case _ => words = Vector(words.mkString("-"))
      }
    }
    val web = r.nextInt(10) match {
      case 0 => null
      case 1 | 2 => "www." + e.domain
      case 3 => "https://" + e.domain
      case _ => e.domain
    }
    e.copy(name = words.mkString(" "), domain = web,
      employees = math.max(1.0, math.floor(e.employees * (0.9 + 0.2 * r.nextDouble()))),
      revenue = e.revenue * (0.9 + 0.2 * r.nextDouble()),
      activityDay = r.nextInt(365))
  }

  val accountSchema: StructType = StructType(Seq(
    StructField("Id", StringType, nullable = false),
    StructField("Name", StringType),
    StructField("Website", StringType),
    StructField("Industry", StringType),
    StructField("AnnualRevenue", DoubleType),
    StructField("NumberOfEmployees", DoubleType),
    StructField("BillingCountry", StringType),
    StructField("Type", StringType),
    StructField("CreatedDate", DateType),
    StructField("LastActivityDate", DateType),
    StructField("org", StringType)))

  /** Accounts over `orgs` CRMs. org0 holds distinct companies; every other
    * org holds, with probability `matchRate`, its own spelling of an org0
    * company, and otherwise a company of its own. Returns the accounts and
    * the ground-truth (org0 id, other id) match pairs. */
  def accounts(spark: SparkSession, perOrg: Int, orgs: Int, matchRate: Double,
               seed: Long): (DataFrame, DataFrame) = {
    val r = rng(seed, 1)
    val base = Vector.fill(perOrg)(entity(r))
    val d0 = java.time.LocalDate.of(2020, 1, 1)
    val a1 = java.time.LocalDate.of(2024, 1, 1)
    def row(id: String, e: Entity, org: Int) = Row(id, e.name, e.domain,
      e.industry, e.revenue, e.employees, e.country, e.kind,
      java.sql.Date.valueOf(d0.plusDays(e.createdDay)),
      java.sql.Date.valueOf(a1.minusDays(e.activityDay)), s"org$org")
    val rows = Vector.newBuilder[Row]
    val truth = Vector.newBuilder[Row]
    base.zipWithIndex.foreach { case (e, i) => rows += row(f"O0-$i%06d", e, 0) }
    (1 until orgs).foreach { o =>
      val perm = scala.util.Random.javaRandomToRandom(rng(seed, 100 + o))
        .shuffle(base.indices.toVector)
      (0 until perOrg).foreach { i =>
        val id = f"O$o-$i%06d"
        if (r.nextDouble() < matchRate) {
          val j = perm(i)
          rows += row(id, variant(base(j), r), o)
          truth += Row(f"O0-$j%06d", id)
        } else rows += row(id, entity(r), o)
      }
    }
    (spark.createDataFrame(java.util.Arrays.asList(rows.result(): _*), accountSchema),
      spark.createDataFrame(java.util.Arrays.asList(truth.result(): _*),
        StructType(Seq(StructField("account1_id", StringType),
          StructField("account2_id", StringType)))))
  }

  /** Historical cross-sell outcomes: account pairs inside a sliding window
    * of `window` accounts, labelled converted with the reference's
    * conversion probability (industry, size, country and customer-type
    * bonuses on a 2% base) scaled by `probScale`. */
  def history(spark: SparkSession, n: Int, window: Int, probScale: Double,
              seed: Long): DataFrame = {
    val r = rng(seed, 2)
    val es = Vector.fill(n)(entity(r))
    val rows = for {
      i <- 0 until n
      j <- (i + 1) until math.min(n, i + window)
    } yield {
      val (a, b) = (es(i), es(j))
      val p = 0.02 + (if (a.industry == b.industry) 0.05 else 0.0) +
        0.03 * math.min(a.employees, b.employees) / math.max(a.employees, b.employees) +
        (if (a.country == b.country) 0.02 else 0.0) +
        (if (a.kind == "Customer" && b.kind == "Customer") 0.03 else 0.0)
      Row(f"H-$i%06d", f"H-$j%06d", a.industry, b.industry, a.employees,
        b.employees, a.country, b.country, a.kind, b.kind, a.revenue,
        b.revenue, if (r.nextDouble() < p * probScale) 1 else 0)
    }
    val s = Seq("account1_id", "account2_id", "a1_industry", "a2_industry")
      .map(StructField(_, StringType)) ++
      Seq("a1_emp", "a2_emp").map(StructField(_, DoubleType)) ++
      Seq("a1_country", "a2_country", "a1_type", "a2_type")
        .map(StructField(_, StringType)) ++
      Seq("a1_revenue", "a2_revenue").map(StructField(_, DoubleType)) :+
      StructField("label", IntegerType)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(s))
  }

  private def vocabulary(r: java.util.Random, n: Int): Vector[String] = {
    val syll = Vector("ka", "lo", "mi", "ne", "ru", "ta", "ve", "so", "di",
      "pa", "gu", "re", "an", "to", "li", "mo", "se", "ba", "ni", "co")
    Iterator.continually((0 until 2 + r.nextInt(3))
        .map(_ => syll(r.nextInt(syll.size))).mkString)
      .distinct.take(n).toVector
  }

  /** A word chain in which each word has a few likely successors, so a
    * bigram model trained on the corpus finds it fluent (the perplexity
    * stage keeps it) while documents still differ. */
  private final class Chain(r: java.util.Random, vocab: Vector[String]) {
    private val next = vocab.indices.map(_ => Vector.fill(6)(r.nextInt(vocab.size)))
    def text(len: Int): Seq[String] = {
      var w = r.nextInt(vocab.size)
      (0 until len).map { _ =>
        w = if (r.nextDouble() < 0.9) next(w)(r.nextInt(6)) else r.nextInt(vocab.size)
        vocab(w)
      }
    }
  }

  /** Training documents: source src0 is the held-out benchmark; a share of
    * the other documents copies an 8-word span from it (contamination),
    * ends in one of a few shared footers (boilerplate), or is a light edit
    * of an earlier document (near-duplicate clusters). Lengths straddle the
    * quality gate's token bounds. */
  def documents(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    val r = rng(seed, 3)
    val vocab = vocabulary(r, 400)
    val chain = new Chain(r, vocab)
    val footers = Vector.fill(4)(chain.text(14).mkString(" "))
    val texts = new Array[String](n)
    val sources = new Array[String](n)
    val bench = scala.collection.mutable.ArrayBuffer[Int]()
    (0 until n).foreach { i =>
      val src = if (i % 33 == 0) "src0" else s"src${1 + r.nextInt(5)}"
      sources(i) = src
      val roll = r.nextDouble()
      val words: Seq[String] =
        if (src != "src0" && roll < 0.2 && i > 50) {
          val b = texts(r.nextInt(i)).split(" ").toBuffer
          (0 until 1 + r.nextInt(3)).foreach(_ =>
            b(r.nextInt(b.size)) = vocab(r.nextInt(vocab.size)))
          b.toSeq
        } else chain.text(20 + r.nextInt(70))
      val contaminated =
        if (src != "src0" && bench.nonEmpty && r.nextDouble() < 0.04) {
          val bt = texts(bench(r.nextInt(bench.size))).split(" ")
          val at = r.nextInt(math.max(1, bt.length - 8))
          words ++ bt.slice(at, at + 8)
        } else words
      val withFooter =
        if (src != "src0" && r.nextDouble() < 0.3)
          contaminated :+ footers(r.nextInt(footers.size))
        else contaminated
      texts(i) = withFooter.mkString(" ")
      if (src == "src0") bench += i
    }
    val rows = (0 until n).map(i => Row(i.toLong, texts(i),
      if (r.nextDouble() < 0.9) "en" else "de", sources(i),
      texts(i).length.toLong))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))))
  }

  /** Unit vectors around `clusters` random centres in `dim` dimensions. */
  def vectors(n: Int, dim: Int, clusters: Int, noise: Double,
              seed: Long): Array[Array[Double]] = {
    val r = rng(seed, 4)
    def unit(v: Array[Double]) = {
      val s = math.sqrt(v.map(x => x * x).sum); v.map(_ / s)
    }
    val centres = Array.fill(clusters)(unit(Array.fill(dim)(r.nextGaussian())))
    Array.fill(n) {
      val c = centres(r.nextInt(clusters))
      unit(c.map(_ + noise * r.nextGaussian()))
    }
  }

  def vectorFrame(spark: SparkSession, vs: Array[Array[Double]]): DataFrame = {
    val rows = vs.zipWithIndex.map { case (v, i) => Row(i.toLong, v.toSeq) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(DoubleType, containsNull = false)))))
  }

  /** Query vectors: corpus points pushed off by the same noise. */
  def queries(vs: Array[Array[Double]], n: Int, noise: Double,
              seed: Long): Vector[Seq[Double]] = {
    val r = rng(seed, 5)
    Vector.fill(n) {
      val v = vs(r.nextInt(vs.length)).map(_ + noise * r.nextGaussian())
      val s = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / s).toSeq
    }
  }
}
