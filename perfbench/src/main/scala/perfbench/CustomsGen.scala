package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}

import graft.etl.Pipeline.Remark
import graft.sources.CustomsSource

/** Seeded customs-declaration generator for the customs_stream workload.
  *
  * Declarations come in blocks of `BlockRows` rows, the size of the
  * reference's monthly batch (1,294 rows). Every block holds the same
  * number of rows of each row class below; the seed picks everything that
  * cannot change a row's enrichment outcome (prices inside their band,
  * quantities, dates, text filler, pass-through columns, row order). So the
  * pipeline's remark × outliers × type-interval histogram is known per
  * block by construction, without running the code under test, and it
  * holds for any whole number of blocks: one monthly file or a whole
  * history.
  *
  * Row classes (FIXTURES.md A1) and what the documented pipeline rules make
  * of them against the engine's sample knowledge bases:
  *  - brand and model in the description, or the brand only in the supplier
  *    (literal or alias-mapped), several brands (first in KB order wins) and
  *    several models (longest wins) → "Fully match"; per model a few rows
  *    priced 1.6-2x or 0.3-0.5x the model's base price are outliers, used
  *    rows (USED token or a year up to 2018) are "unknown", an UNUSED token
  *    overrides the year back to new;
  *  - a wheel-excavator variant that the type rules retype, and a
  *    brand-only "20 TONS" wheel excavator that backward tagging gives a
  *    model to;
  *  - models only the regex KB finds: brand-scoped, brand-less with one
  *    pattern hit, and brand-less with two hits (longest wins);
  *  - "N TONS" capacity in the description; brand without model; no match;
  *    null descriptions; parts (PARTS/CKD/SKD);
  *  - irrelevant keywords (dropped) and amounts or unit prices under
  *    $10k (filtered).
  *
  * The class mix after KB matching is anchored to the reference's golden
  * remark shares 636 / 101 / 74 / 21 (Fully / brand-no-model / no match /
  * parts): 970 / 138 / 98 / 24 of the 1,230 rows a block keeps.
  */
object CustomsGen {

  val BlockRows = 1300

  val schema = CustomsSource.inputSchema

  /** Expected enrichment outcome of a kept row of `Pipeline.run`: remark,
    * outliers and type interval (from the KB, regex or description
    * capacity, else from the unit weight). */
  final case class Expect(remark: String, outliers: String, interval: String)

  /** The fixed-bucket rule of the reference's type interval (<5T ... ≥90T). */
  def bucket(tons: Option[Double]): String = tons match {
    case None => "UNKNOWN"
    case Some(v) if v <= 0 => "UNKNOWN"
    case Some(v) if v < 5 => "<5T"
    case Some(v) if v < 10 => "5-10T"
    case Some(v) if v < 30 => "10-30T"
    case Some(v) if v < 70 => "30-70T"
    case Some(v) if v < 90 => "70-90T"
    case _ => "≥90T"
  }

  private final case class Model(brand: String, model: String, capacity: Double,
      noun: String, supplier: String, laterBrand: Option[String], shorterModel: Option[String]) {
    val base: Double = capacity * 5000 + 40000
  }

  // the engine's sample model KB, with a supplier name that names the brand
  // (some through the customs alias table) and, where one exists, a brand
  // later in KB order and a shorter model of the same brand for the
  // several-brands and several-models variants
  private val models = Seq(
    Model("KOMATSU", "PC200-8", 20.0, "HYDRAULIC EXCAVATOR", "MARUBENI CORPORATION", Some("SANY"), Some("PC2000")),
    Model("KOMATSU", "PC78US-6N0", 7.8, "HYDRAULIC EXCAVATOR", "KOMATSU ASIA PACIFIC", Some("HITACHI"), Some("PC2000")),
    Model("KOMATSU", "PC2000", 200.0, "HYDRAULIC EXCAVATOR", "KOMATSU ASIA PACIFIC", Some("XCMG"), None),
    Model("SANY", "SY215C", 21.5, "CRAWLER EXCAVATOR", "SANY HEAVY INDUSTRY CO LTD", Some("HITACHI"), Some("SY55C")),
    Model("SANY", "SY55C", 5.5, "MINI EXCAVATOR", "SANY HEAVY INDUSTRY CO LTD", Some("GROVE"), None),
    Model("HITACHI", "ZX200", 20.0, "HYDRAULIC EXCAVATOR", "HITACHI CONSTRUCTION MACHINERY", Some("XCMG"), None),
    Model("HITACHI", "ZX330", 33.0, "HYDRAULIC EXCAVATOR", "HITACHI CONSTRUCTION MACHINERY", Some("CATERPILLAR"), None),
    Model("CATERPILLAR", "320D", 20.0, "HYDRAULIC EXCAVATOR", "PT CAT INDONESIA", Some("XCMG"), None),
    Model("XCMG", "XE215C", 21.5, "CRAWLER EXCAVATOR", "XUZHOU CONSTRUCTION MACHINERY GROUP", Some("GROVE"), None),
    Model("GROVE", "RT765E", 60.0, "MOBILE CRANE", "MANITOWOC CRANE GROUP", None, None))

  private def model(name: String): Model = models.find(_.model == name).get

  private val genericSuppliers = Seq("PT MAJU JAYA", "GLOBAL TRADING CO LTD", "MOKAC CO LTD",
    "PT ABADI TEKNIK", "EASTERN EQUIPMENT LTD", "PT SINAR MESIN")
  private val newFiller = Seq("UNIT", "COMPLETE WITH STANDARD BUCKET", "WITH ATTACHMENT",
    "BRAND NEW", "YEAR 2023", "YEAR 2024", "MANUFACTURE YEAR 2022", "NEW CONDITION")
  private val usedFiller = Seq("USED", "YEAR 2015", "SECONDHAND UNIT", "YEAR 2012 GOOD CONDITION", "REFURBISH")
  // unit weights (tons) cycled over rows whose type interval falls back to
  // the unit weight; None leaves the weight empty (a NaN unit weight)
  private val unitTons = Seq(Some(3.2), Some(8.5), Some(24.0), Some(45.0), None)

  /** One generated declaration before rendering into the 27 columns. */
  private final case class Decl(description: String, supplier: String, price: Double,
      qty: Int, unitTon: Option[Double])

  /** A row class: rows per block, the expected outcome of its i-th row
    * (None: the pipeline drops it), and the row maker. */
  private final case class Cls(count: Int, expect: Int => Option[Expect],
      make: (SplittableRandom, Int) => Decl)

  private def pick[A](r: SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def band(r: SplittableRandom, base: Double, lo: Double, hi: Double): Double =
    base * (lo + (hi - lo) * r.nextDouble())
  private def qty(r: SplittableRandom): Int = 1 + r.nextInt(2)

  private def fullyClasses(m: Model): Seq[Cls] = {
    val iv = bucket(Some(m.capacity))
    def desc(r: SplittableRandom, i: Int): String = i % 12 match {
      case 0 | 1 => s"${m.noun} ${m.model} ${pick(r, newFiller)}" // brand via supplier
      case 2 if m.laterBrand.isDefined =>
        s"${m.brand} ${m.model} ${m.noun} WITH ${m.laterBrand.get} ENGINE"
      case 3 if m.shorterModel.isDefined =>
        s"${m.brand} ${m.shorterModel.get} AND ${m.model} ${m.noun}"
      case 4 if m.model == "PC200-8" => s"${m.brand} ${m.model} WHEEL EXCAVATOR"
      case _ => s"${m.brand} ${m.model} ${m.noun} ${pick(r, newFiller)}"
    }
    def supplier(r: SplittableRandom, i: Int): String =
      if (i % 12 < 2) m.supplier else pick(r, genericSuppliers)
    def ton(r: SplittableRandom): Option[Double] = Some(band(r, m.capacity, 0.9, 1.1))
    Seq(
      Cls(87, _ => Some(Expect(Remark.fully, "no", iv)),
        (r, i) => Decl(desc(r, i), supplier(r, i), band(r, m.base, 0.95, 1.05), qty(r), ton(r))),
      Cls(2, _ => Some(Expect(Remark.fully, "no", iv)),
        (r, _) => Decl(s"${m.brand} ${m.model} ${m.noun} UNUSED YEAR 2016", pick(r, genericSuppliers),
          band(r, m.base, 0.95, 1.05), qty(r), ton(r))),
      Cls(4, _ => Some(Expect(Remark.fully, "unknown", iv)),
        (r, _) => Decl(s"${m.brand} ${m.model} ${m.noun} ${pick(r, usedFiller)}", pick(r, genericSuppliers),
          band(r, m.base, 0.5, 1.5), qty(r), ton(r))),
      Cls(2, _ => Some(Expect(Remark.fully, "yes", iv)),
        (r, _) => Decl(s"${m.brand} ${m.model} ${m.noun}", pick(r, genericSuppliers),
          band(r, m.base, 1.6, 2.0), qty(r), ton(r))),
      Cls(2, _ => Some(Expect(Remark.fully, "yes", iv)),
        (r, _) => Decl(s"${m.brand} ${m.model} ${m.noun}", pick(r, genericSuppliers),
          band(r, m.base, 0.3, 0.5), qty(r), ton(r))))
  }

  private def byWeight(remark: String, outliers: String = "unknown")(i: Int): Option[Expect] =
    Some(Expect(remark, outliers, bucket(unitTons(i % unitTons.size))))

  private val classes: Seq[Cls] = models.flatMap(fullyClasses) ++ Seq(
    // backward tagging borrows PC200-8 from the block's wheel-excavator rows
    Cls(10, _ => Some(Expect(Remark.inferredModel, "no", "10-30T")),
      (r, _) => Decl("KOMATSU WHEEL EXCAVATOR 20 TONS", pick(r, genericSuppliers),
        band(r, model("PC200-8").base, 0.95, 1.05), qty(r), Some(20.0))),
    Cls(4, _ => Some(Expect(Remark.capacityInDesc, "unknown", "10-30T")),
      (r, _) => Decl("SANY HYDRAULIC EXCAVATOR 12 TONS", pick(r, genericSuppliers),
        band(r, 100000, 0.8, 1.2), qty(r), Some(12.0))),
    Cls(4, _ => Some(Expect(Remark.capacityInDesc, "unknown", "30-70T")),
      (r, _) => Decl("HITACHI CRAWLER EXCAVATOR 35 TONS", pick(r, genericSuppliers),
        band(r, 200000, 0.8, 1.2), qty(r), Some(35.0))),
    // brand-scoped regex: PC ?(\d+) and SY ?(\d+) decode n/10 (code 0);
    // the CATERPILLAR pattern decodes no capacity (code 2)
    Cls(20, _ => Some(Expect(Remark.uniqueRegex, "no", "10-30T")),
      (r, _) => Decl(s"KOMATSU PC 130 HYDRAULIC EXCAVATOR ${pick(r, Seq("UNIT", "BRAND NEW"))}",
        pick(r, genericSuppliers), band(r, 105000, 0.95, 1.05), qty(r), Some(13.0))),
    Cls(20, _ => Some(Expect(Remark.uniqueRegex, "no", "5-10T")),
      (r, _) => Decl("SANY SY 75C MINI EXCAVATOR", pick(r, genericSuppliers),
        band(r, 77500, 0.95, 1.05), qty(r), Some(7.5))),
    Cls(10, i => Some(Expect(Remark.uniqueRegex, "unknown", bucket(unitTons(i % unitTons.size)))),
      (r, i) => Decl("CATERPILLAR 336 HYDRAULIC EXCAVATOR", pick(r, genericSuppliers),
        band(r, 250000, 0.8, 1.2), 1, unitTons(i % unitTons.size))),
    // brand-less regex hits land in the KB model's outlier group
    Cls(25, _ => Some(Expect(Remark.noBrandUniqueRegex, "no", "10-30T")),
      (r, _) => Decl("HYDRAULIC EXCAVATOR XE 215C", pick(r, genericSuppliers),
        band(r, model("XE215C").base, 0.95, 1.05), qty(r), Some(21.0))),
    Cls(13, _ => Some(Expect(Remark.noBrandLongestRegex, "no", "10-30T")),
      (r, _) => Decl("CRAWLER EXCAVATOR SY 215C WITH ZX 85 ARM", pick(r, genericSuppliers),
        band(r, model("SY215C").base, 0.95, 1.05), qty(r), Some(21.0))),
    Cls(70, byWeight(Remark.brandNoModel),
      (r, i) => {
        val (d, s) = i % 7 match {
          case 0 => ("HYDRAULIC EXCAVATOR", "MARUBENI CORPORATION")
          case 1 => ("CRAWLER EXCAVATOR UNIT", "XUZHOU CONSTRUCTION MACHINERY GROUP")
          case 2 => ("KOMATSU HYDRAULIC EXCAVATOR", pick(r, genericSuppliers))
          case 3 => ("SANY CRAWLER EXCAVATOR", pick(r, genericSuppliers))
          case 4 => ("HITACHI EXCAVATOR COMPLETE WITH BUCKET", pick(r, genericSuppliers))
          case 5 => ("CATERPILLAR HYDRAULIC EXCAVATOR YEAR 2014", pick(r, genericSuppliers))
          case _ => ("XCMG MINI EXCAVATOR", pick(r, genericSuppliers))
        }
        Decl(d, s, band(r, 90000, 0.5, 1.5), 1, unitTons(i % unitTons.size))
      }),
    Cls(60, byWeight(Remark.noMatch),
      (r, i) => Decl(
        if (i % 10 == 0) null
        else pick(r, Seq("HYDRAULIC EXCAVATOR", "CRAWLER EXCAVATOR UNIT", "MINI EXCAVATOR COMPLETE",
          "EXCAVATOR WITH BREAKER", "USED EXCAVATOR")),
        pick(r, genericSuppliers), band(r, 60000, 0.5, 1.5), 1, unitTons(i % unitTons.size))),
    Cls(24, byWeight(Remark.parts),
      (r, i) => Decl(pick(r, Seq("SPARE PARTS FOR EXCAVATOR", "EXCAVATOR IN CKD CONDITION",
          "SKD UNIT OF CRAWLER EXCAVATOR", "UNDERCARRIAGE PART")),
        pick(r, genericSuppliers), band(r, 40000, 0.5, 1.5), 1, unitTons(i % unitTons.size))),
    Cls(40, _ => None,
      (r, _) => Decl(pick(r, Seq("KOMATSU WA380 WHEEL LOADER", "SANY ROAD ROLLER", "FORKLIFT UNIT",
          "CATERPILLAR D6 BULLDOZER", "XCMG MOTOR GRADER")),
        pick(r, genericSuppliers), band(r, 80000, 0.5, 1.5), 1, Some(12.0))),
    Cls(15, _ => None, // amount under $10k
      (r, _) => Decl("KOMATSU PC200-8 HYDRAULIC EXCAVATOR", pick(r, genericSuppliers),
        band(r, 7000, 0.7, 1.3), 1, Some(20.0))),
    Cls(15, _ => None, // amount over $10k, unit price under $10k
      (r, _) => Decl("SANY SY55C MINI EXCAVATOR", pick(r, genericSuppliers),
        band(r, 6000, 0.7, 1.3), 4, Some(5.5))))

  require(classes.map(_.count).sum == BlockRows, "row classes must fill one block")

  /** Rows of one block kept by the pipeline. */
  val keptPerBlock: Long =
    classes.map(c => (0 until c.count).count(i => c.expect(i).isDefined).toLong).sum

  /** Expected (remark, outliers, type interval) counts for `blocks` blocks. */
  def expectedHistogram(blocks: Long): Map[(String, String, String), Long] =
    classes.flatMap(c => (0 until c.count).flatMap(c.expect))
      .groupBy(e => (e.remark, e.outliers, e.interval))
      .map { case (k, v) => k -> v.size * blocks }

  private val countries = Seq("JAPAN", "CHINA", "KOREA", "THAILAND", "GERMANY", "USA")
  private val units = Seq("Number of international units", "Set", "Piece", "each", "UNT")
  private val ports = Seq("TANJUNG PRIOK", "TANJUNG PERAK", "BELAWAN", "MAKASSAR")

  private def fmt(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)

  private def render(seed: Long, block: Int, i: Int, r: SplittableRandom, d: Decl): Row = {
    // history window of the reference's golden output, Aug 2022 - Jul 2024
    val date = java.time.LocalDate.of(2022, 8, 1).plusDays(r.nextInt(730))
    val amount = d.price * d.qty
    val kg = d.unitTon.map(t => t * 1000 * d.qty)
    Row(
      f"${date.getYear}%04d${date.getMonthValue}%02d", "84295200", d.description,
      "EXCAVATORS WITH 360 DEGREE REVOLVING SUPERSTRUCTURE", s"PT IMPORTIR ${r.nextInt(400)}",
      d.supplier, pick(r, countries), "", d.qty.toString, pick(r, units),
      fmt(amount), fmt(d.price), fmt(amount), fmt(d.price),
      f"${date.getYear}%04d/${date.getMonthValue}%02d/${date.getDayOfMonth}%02d",
      s"BC$seed-$block-$i", "IMPORT", pick(r, ports), pick(r, ports), "JAKARTA", pick(r, countries),
      "USD", fmt(amount * 15500), fmt(d.price * 15500),
      kg.map(w => fmt(amount / w)).getOrElse(""), kg.map(fmt).getOrElse(""),
      kg.map(w => fmt(w / 1000)).getOrElse(""))
  }

  /** The rows of block `block` for `seed`, in seeded order. */
  def block(seed: Long, block: Int): Array[Row] = {
    val r = new SplittableRandom(seed * 1000003L + block)
    val rows = classes.flatMap(c => (0 until c.count).map(i => c.make(r, i))).toArray
    // Fisher-Yates with the block's generator: the order is seeded too
    for (k <- rows.length - 1 to 1 by -1) {
      val j = r.nextInt(k + 1); val t = rows(k); rows(k) = rows(j); rows(j) = t
    }
    rows.zipWithIndex.map { case (d, i) => render(seed, block, i, r, d) }
  }

  /** Write blocks `from until to` as one parquet file each, named
    * `month_<block>.parquet` under `dir` (the monthly files of the stream). */
  def writeMonths(spark: SparkSession, seed: Long, from: Int, to: Int, dir: String): Unit = {
    val tmp = s"$dir/_staging"
    // one partition per block, so task k writes exactly block from + k
    val rdd = spark.sparkContext.parallelize(from until to, to - from).flatMap(b => block(seed, b))
    spark.createDataFrame(rdd, schema).write.mode("overwrite").parquet(tmp)
    val parts = new java.io.File(tmp).listFiles().filter(_.getName.startsWith("part-"))
    for (f <- parts) {
      val k = f.getName.stripPrefix("part-").takeWhile(_.isDigit).toInt
      java.nio.file.Files.move(f.toPath, java.nio.file.Paths.get(s"$dir/month_${from + k}.parquet"))
    }
    require(parts.length == to - from, s"expected ${to - from} monthly files, wrote ${parts.length}")
    Util.deleteRecursively(new java.io.File(tmp))
  }
}
