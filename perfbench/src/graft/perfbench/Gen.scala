package graft.perfbench

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** Seeded input generator. Every input is a pure function of the workload
  * seed and its coordinates (operation index, slice, part), so the same seed
  * gives byte-identical inputs. The engine only ever sees the files and
  * frames built from these values; the generator also returns the counts the
  * output checks compare against, computed here and never by the engine.
  */
object Gen {

  def rng(seed: Long, coords: Long*): SplittableRandom = {
    var h = mix(seed ^ 0x5DEECE66DL)
    coords.foreach(c => h = mix(h ^ (c * 0x9E3779B97F4A7C15L)))
    new SplittableRandom(h)
  }

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def shuffled[T](r: SplittableRandom, xs: IndexedSeq[T]): Vector[T] = {
    val a = ArrayBuffer.from(xs)
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector
  }

  private def pick[T](r: SplittableRandom, xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))

  /** Index drawn from a cumulative weight table. */
  private def draw(r: SplittableRandom, cdf: Array[Double]): Int = {
    val u = r.nextDouble() * cdf(cdf.length - 1)
    val i = java.util.Arrays.binarySearch(cdf, u)
    if (i >= 0) i else -i - 1
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] =
    (1 to n).map(k => 1.0 / math.pow(k, s)).scanLeft(0.0)(_ + _).tail.toArray

  // ---------------------------------------------------------------- lab data

  val Districts: Vector[String] =
    Vector("Gasabo", "Kicukiro", "Nyarugenge", "Bugesera", "Musanze", "Huye")
  val ProvinceOf: Map[String, String] = Map(
    "Gasabo" -> "Kigali City", "Kicukiro" -> "Kigali City", "Nyarugenge" -> "Kigali City",
    "Bugesera" -> "Eastern Province", "Musanze" -> "Northern Province",
    "Huye" -> "Southern Province")
  val SectorsOf: Map[String, Vector[String]] = Map(
    "Gasabo" -> Vector("Kacyiru", "Remera"), "Kicukiro" -> Vector("Niboye", "Kagarama"),
    "Nyarugenge" -> Vector("Muhima", "Nyamirambo"), "Bugesera" -> Vector("Nyamata", "Rilima"),
    "Musanze" -> Vector("Muhoza", "Cyuve"), "Huye" -> Vector("Ngoma", "Tumba"))
  val Years: Vector[Int] = Vector(2021, 2022, 2023)

  /** The reference's lab upload columns, all read as text. */
  val LabColumns: Vector[String] = Vector("Year", "Month", "District", "Sector",
    "Health Center", "Cell", "Village", "Age", "Gender", "Slide Status", "Case Origin",
    "Province")
  val labSchema: StructType = StructType(LabColumns.map(StructField(_, StringType)))

  /** Row i of a slice carries an unparseable Year iff i % InvalidYearEvery == 0,
    * so row 0 always does (that also keeps CSV schema inference on strings).
    */
  val InvalidYearEvery = 50
  def invalidYearRows(n: Int): Int = (n + InvalidYearEvery - 1) / InvalidYearEvery

  private val villageCdf = zipfCdf(40, 1.1)
  private val months = Vector("January", "feb", "Mar", "APRIL", "may", "Jun", "july",
    "Aug", "september", "Oct", "nov", "December")
  private val genders = Vector("M", "M", "M", "F", "F", "F", "Male", "female", " man",
    "Woman", "", "x")
  private val slides = Vector("Positive", "Positive", "Positive", "POS", "P.falciparum", "+",
    "Negative", "Negative", "Negative", "Negative", "Negative", "Negative", "Negative",
    "Negative", "NEG", "NEG", "-", "No malaria", "pending", "", "")

  private val badYears = Vector("N/A", "", "unknown", "20x3")
  private val badMonths = Vector("13", "")
  private val badAges = Vector("-4", "150")
  private val origins = Vector("Local", "Local", "Local", "Local", "Local", "Local", "Local",
    "Imported", "Imported", "")

  private def caseVariant(r: SplittableRandom, s: String): String = r.nextInt(10) match {
    case 0 => s.toUpperCase
    case 1 => s.toLowerCase
    case 2 => s" $s "
    case _ => s
  }

  /** One messy lab record of a (district, sector, year) slice. */
  def labRow(r: SplittableRandom, i: Int, district: String, sector: String,
      year: Int): Array[String] = {
    val yearField =
      if (i % InvalidYearEvery == 0) pick(r, badYears)
      else if (r.nextInt(10) == 0) s"$year.0" else year.toString
    val m = r.nextInt(100)
    val month =
      if (i == 0) "Jan"
      else if (m < 85) (1 + r.nextInt(12)).toString
      else if (m < 93) pick(r, months)
      else if (m < 97) s"${1 + r.nextInt(12)}.0"
      else pick(r, badMonths)
    val a = r.nextInt(100)
    val age =
      if (i == 0) "unknown"
      else if (a < 85) r.nextInt(91).toString
      else if (a < 90) s"${r.nextInt(91)}.0"
      else if (a < 95) ""
      else if (a < 98) "abc"
      else pick(r, badAges)
    val v = draw(r, villageCdf)
    val village = if (r.nextInt(50) == 0) "" else s"${district.take(4)} village ${v + 1}"
    Array(
      yearField, month, caseVariant(r, district), caseVariant(r, sector),
      if (r.nextInt(10) == 0) s"$sector, Health Centre" else s"$sector HC",
      s"Cell ${v % 8}", village, age, pick(r, genders), pick(r, slides),
      pick(r, origins),
      caseVariant(r, ProvinceOf(district)))
  }

  private def csvField(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n')) "\"" + s.replace("\"", "\"\"") + "\""
    else s

  /** One lab_etl upload: a CSV for one (district, sector, year) slice. */
  final case class LabUpload(name: String, district: String, sector: String, year: Int,
      rows: Int, bom: Boolean, bytes: Array[Byte]) {
    def validYearRows: Int = rows - invalidYearRows(rows)
    def fileName: String = s"upload-$name-${district.toLowerCase}-$year${if (bom) "-excel" else ""}.csv"
  }

  /** Sizes of the i-th and (i+1)-th upload of every even i: each pair sums to
    * 100k rows, so any even number of uploads carries the same rows.
    */
  val UploadPairs: Vector[(Int, Int)] =
    Vector((20000, 80000), (30000, 70000), (40000, 60000), (50000, 50000))

  /** The k-th item of a sequence built from `pairs`: items 2j and 2j + 1 are
    * the halves of pair j (cyclically). The order is the same for every
    * seed: the cost of an upload or a batch depends on its size and on the
    * store it lands in, so a seeded order would change a run's work.
    */
  def paired(pairs: Vector[(Int, Int)], k: Int): Int = {
    val p = pairs((k / 2) % pairs.size)
    if (k % 2 == 0) p._1 else p._2
  }

  /** Every upload goes to LabDistrict and takes one of its six (sector,
    * year) slices, in a seeded order: set-up seeds the store with the first
    * SeedUploads slices, so each measured upload merges into, and rewrites,
    * a district store that already holds data. The district is the same for
    * every seed because its, its sector's and its province's names fill a
    * good part of each CSV row, so another district would change the CSV
    * bytes per row and with them store_bytes_per_input_byte.
    */
  val LabDistrict = "Gasabo"
  def labSlices(seed: Long): Vector[(String, String, Int)] =
    shuffled(rng(seed, 5),
      for (s <- SectorsOf(LabDistrict); y <- Years) yield (LabDistrict, s, y))
  val SeedUploads = 2
  val SeedUploadRows = 10000

  /** The k-th set-up upload: SeedUploadRows rows, plain UTF-8. */
  def seedUpload(seed: Long, k: Int): LabUpload =
    makeUpload(seed, s"seed$k", 1, k, k, SeedUploadRows, excel = false)

  /** The op-th measured upload. Sizes come in UploadPairs; the first of
    * every four uploads is an Excel export (UTF-8 with a byte-order mark and
    * CRLF line ends), the rest are plain UTF-8.
    */
  def labUpload(seed: Long, op: Int): LabUpload =
    makeUpload(seed, op.toString, 0, op, SeedUploads + op, paired(UploadPairs, op),
      excel = op % 4 == 0)

  private def makeUpload(seed: Long, name: String, stream: Int, op: Int, slot: Int, n: Int,
      excel: Boolean): LabUpload = {
    val (district, sector, year) = {
      val slices = labSlices(seed)
      slices(slot % slices.size)
    }
    val r = rng(seed, stream, 4, op)
    val eol = if (excel) "\r\n" else "\n"
    val sb = new java.lang.StringBuilder(n * 96)
    sb.append(LabColumns.mkString(",")).append(eol)
    var i = 0
    while (i < n) {
      val f = labRow(r, i, district, sector, year)
      var k = 0
      while (k < f.length) {
        if (k > 0) sb.append(',')
        sb.append(csvField(f(k)))
        k += 1
      }
      sb.append(eol)
      i += 1
    }
    val body = sb.toString.getBytes(StandardCharsets.UTF_8)
    val bytes =
      if (excel) Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ body else body
    LabUpload(name, district, sector, year, n, excel, bytes)
  }

  // -------------------------------------------------------- dashboard store

  /** One stored (district, sector, year) upload of the dashboard store. */
  final case class StoreSlice(district: String, sector: String, year: Int, rows: Int)

  val StoreRows = 150000

  /** District sizes follow a Zipf(1) law over a seeded district order; each
    * district's rows split evenly over the years, one sector per year.
    */
  def storeSlices(seed: Long): Vector[StoreSlice] = {
    val order = shuffled(rng(seed, 10), Districts)
    val w = order.indices.map(k => 1.0 / (k + 1))
    for {
      (d, k) <- order.zipWithIndex
      (y, yi) <- Years.zipWithIndex
    } yield StoreSlice(d, SectorsOf(d)(yi % 2), y,
      (StoreRows * w(k) / w.sum / Years.size).toInt)
  }

  val StorePartRows = 25000

  /** Rows [part * StorePartRows, ...) of slice `sliceIdx`; pure, so Spark
    * tasks can generate the parts in parallel.
    */
  def storeRows(seed: Long, sliceIdx: Int, s: StoreSlice, part: Int): Iterator[Row] = {
    val r = rng(seed, 11, sliceIdx, part)
    val from = part * StorePartRows
    val to = math.min(s.rows, from + StorePartRows)
    Iterator.range(from, to).map(i => Row.fromSeq(labRow(r, i, s.district, s.sector, s.year).toSeq))
  }

  /** HMIS wide-format frame (Total Cases_<y>, Pop<y>, Incidence_<y> per year)
    * with some unparseable cells; `longRows` counts the (row, year) pairs
    * whose cases and population both parse.
    */
  final case class Hmis(rows: Vector[Row], schema: StructType, longRows: Int,
      provinceDistricts: Int)

  def hmis(seed: Long): Hmis = {
    val r = rng(seed, 20)
    val cols = Vector("Province", "District", "Sector") ++
      Years.flatMap(y => Vector(s"Total Cases_$y", s"Pop$y", s"Incidence_$y"))
    var longRows = 0
    val rows = for {
      d <- Districts
      s <- SectorsOf(d) ++ (1 to 4).map(k => s"$d sector $k")
    } yield {
      val cells = Years.flatMap { _ =>
        val cases = if (r.nextInt(20) == 0) "n/a" else r.nextInt(5000).toString
        val pop = if (r.nextInt(30) == 0) "" else (5000 + r.nextInt(55000)).toString
        if (cases != "n/a" && pop.nonEmpty) longRows += 1
        Vector(cases, pop, if (r.nextInt(4) == 0) "" else f"${r.nextDouble() * 300}%.1f")
      }
      Row.fromSeq(Vector(ProvinceOf(d), d, s) ++ cells)
    }
    Hmis(rows, StructType(cols.map(StructField(_, StringType))), longRows,
      Districts.size)
  }

  val weatherSchemaPrecip: StructType = StructType(Seq(StructField("Year", StringType),
    StructField("Month", StringType), StructField("PRECIP", DoubleType)))
  val weatherSchemaTemp: StructType = StructType(Seq(StructField("Year", StringType),
    StructField("Month", StringType), StructField("TMPMAX", DoubleType)))

  /** Daily station observations for every year; a few are out of range. */
  def weather(seed: Long): (Vector[Row], Vector[Row]) = {
    val r = rng(seed, 21)
    val days = for (y <- Years; m <- 1 to 12; _ <- 1 to 28) yield (y, m)
    def monthField(m: Int) = if (r.nextInt(10) == 0) months(m - 1) else m.toString
    val precip = days.map { case (y, m) =>
      Row(y.toString, monthField(m), if (r.nextInt(40) == 0) -1.0 else r.nextDouble() * 40)
    }
    val temp = days.map { case (y, m) =>
      Row(y.toString, monthField(m), if (r.nextInt(40) == 0) 99.0 else 18 + r.nextDouble() * 12)
    }
    (precip, temp)
  }

  // ------------------------------------------------------------- documents

  /** Kinds of generated documents. */
  val Fresh = 0
  val Edit = 1 // a few words changed in a fresh document of an earlier batch
  val ExactDup = 2 // identical text of an earlier-id fresh document in the same batch

  final case class Doc(id: Long, text: String, kind: Int, source: Long)

  /** Batch sizes pair up to 7000 documents, as upload sizes do. */
  val BatchPairs: Vector[(Int, Int)] =
    Vector((2000, 5000), (2500, 4500), (3000, 4000), (3500, 3500))
  val EditShare = 0.15
  val DupShare = 0.05

  /** Stateful only in what it remembers of earlier batches (the fresh
    * documents edits are drawn from); the sequence of batches is a pure
    * function of the seed.
    */
  final class DocStream(seed: Long) {
    private val vocab: Array[String] = {
      val r = rng(seed, 30)
      val letters = "abcdefghijklmnoprstuvwyz"
      Array.tabulate(20000) { i =>
        val n = 3 + r.nextInt(7)
        (0 until n).map(_ => letters(r.nextInt(letters.length))).mkString + (i % 10)
      }
    }
    private val cdf = zipfCdf(vocab.length, 1.05)
    private val history = ArrayBuffer.empty[(Long, Array[Int])]
    private var nextId = 1L

    private def text(words: Array[Int]): String = words.iterator.map(vocab(_)).mkString(" ")

    def batch(b: Int): Vector[Doc] = {
      val r = rng(seed, 31, b)
      val n = paired(BatchPairs, b)
      val kinds = shuffled(r, Vector.tabulate(n) { i =>
        if (i < (n * EditShare).toInt && history.nonEmpty) Edit
        else if (i >= n - (n * DupShare).toInt) ExactDup
        else Fresh
      })
      val fresh = ArrayBuffer.empty[(Long, Array[Int])]
      val docs = kinds.map { k0 =>
        val id = nextId
        nextId += 1
        val kind = if (k0 == ExactDup && fresh.isEmpty) Fresh else k0
        kind match {
          case Fresh =>
            val words = Array.fill(30 + r.nextInt(271))(draw(r, cdf))
            fresh += id -> words
            Doc(id, text(words), Fresh, -1L)
          case Edit =>
            val (src, orig) = history(r.nextInt(history.length))
            val words = orig.clone()
            (0 until math.max(1, words.length / 40)).foreach { _ =>
              words(r.nextInt(words.length)) = draw(r, cdf)
            }
            Doc(id, text(words), Edit, src)
          case _ =>
            val (src, orig) = fresh(r.nextInt(fresh.length))
            Doc(id, text(orig), ExactDup, src)
        }
      }
      history ++= fresh
      docs
    }
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  // ------------------------------------------------------------------ geo

  /** A village cell: a convex polygon inscribed in a circle around the cell
    * centre, `points` slope samples strictly inside it and `gapPoints`
    * samples in the cell's corners, which lie outside every polygon.
    */
  final case class GeoCell(id: Long, cx: Double, cy: Double, radius: Double,
      ring: Vector[(Double, Double)], points: Int, gapPoints: Int)

  val GeoNx = 40
  val GeoNy = 30
  val GeoCellSize = 0.03
  val GeoOrigin: (Double, Double) = (29.0, -2.8)

  def geoCells(seed: Long): Vector[GeoCell] = {
    val r = rng(seed, 40)
    Vector.tabulate(GeoNx * GeoNy) { i =>
      val cx = GeoOrigin._1 + (i % GeoNx + 0.5) * GeoCellSize
      val cy = GeoOrigin._2 + (i / GeoNx + 0.5) * GeoCellSize
      val radius = GeoCellSize / 2 * (0.70 + 0.15 * r.nextDouble())
      val k = 6 + r.nextInt(5)
      val step = 2 * math.Pi / k
      val phase = r.nextDouble() * step
      // angular jitter of at most 0.3 step keeps every gap under 1.6 steps,
      // so the polygon contains the disk of radius 0.67 * radius
      val angles = (0 until k).map(j => phase + j * step + (r.nextDouble() - 0.5) * 0.6 * step)
      val pts = angles.map(t => (cx + radius * math.cos(t), cy + radius * math.sin(t)))
      GeoCell(i.toLong + 1, cx, cy, radius, (pts :+ pts.head).toVector,
        60 + r.nextInt(141), r.nextInt(4))
    }
  }

  val geoBoundarySchema: StructType = StructType(Seq(
    StructField("boundary_id", LongType), StructField("name", StringType),
    StructField("geom", ArrayType(ArrayType(ArrayType(DoubleType))))))

  def boundaryRow(c: GeoCell): Row =
    Row(c.id, s"village ${c.id}", Seq(c.ring.map { case (x, y) => Seq(x, y) }))

  val geoPointSchema: StructType = StructType(Seq(StructField("x", DoubleType),
    StructField("y", DoubleType), StructField("value", DoubleType)))

  /** The cell's inside samples (within 0.6 * radius of the centre) followed
    * by its gap samples (beyond 0.63 cell widths from the centre, inside
    * the cell's own square).
    */
  def geoPoints(seed: Long, c: GeoCell): Iterator[Row] = {
    val r = rng(seed, 41, c.id)
    val inside = Iterator.fill(c.points) {
      val d = 0.6 * c.radius * math.sqrt(r.nextDouble())
      val t = r.nextDouble() * 2 * math.Pi
      val u = r.nextDouble()
      Row(c.cx + d * math.cos(t), c.cy + d * math.sin(t), 45 * u * u)
    }
    val gaps = Iterator.fill(c.gapPoints) {
      def off = (if (r.nextBoolean()) 1 else -1) * (0.45 + 0.04 * r.nextDouble()) * GeoCellSize
      Row(c.cx + off, c.cy + off, 45 * r.nextDouble())
    }
    inside ++ gaps
  }
}
