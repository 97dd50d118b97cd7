package graft.perfbench

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** The benchmark's own tests: the generator is deterministic and plants
  * what it says, and every output check rejects a corrupted result. Runs
  * without a Spark session; `python3 perfbench/run.py --selftest`.
  */
object SelfTest {

  private var passed = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    if (!ok) throw new AssertionError(s"selftest failed: $name")
    passed += 1
  }

  private def rejects(name: String)(failure: => Option[String]): Unit =
    check(s"$name is rejected")(failure.isDefined)

  def run(): Unit = {
    generatorIsDeterministic()
    generatorPlantsWhatItReports()
    checksRejectCorruptedResults()
    println(s"[perfbench] selftest: $passed checks passed")
  }

  private def generatorIsDeterministic(): Unit = {
    (0 until 4).foreach { op =>
      check(s"lab upload $op is byte-identical for one seed")(
        java.util.Arrays.equals(Gen.labUpload(7, op).bytes, Gen.labUpload(7, op).bytes))
    }
    check("another seed gives another upload")(
      !java.util.Arrays.equals(Gen.labUpload(7, 0).bytes, Gen.labUpload(8, 0).bytes))
    val slices = Gen.storeSlices(7)
    check("store slices repeat")(slices == Gen.storeSlices(7))
    check("store rows repeat")(
      Gen.storeRows(7, 3, slices(3), 0).toVector == Gen.storeRows(7, 3, slices(3), 0).toVector)
    check("hmis and weather repeat")(
      Gen.hmis(7).rows == Gen.hmis(7).rows && Gen.weather(7) == Gen.weather(7))
    val (a, b) = (new Gen.DocStream(7), new Gen.DocStream(7))
    (0 until 3).foreach(k => check(s"document batch $k repeats")(a.batch(k) == b.batch(k)))
    val cells = Gen.geoCells(7)
    check("geo cells repeat")(cells == Gen.geoCells(7))
    check("geo points repeat")(
      Gen.geoPoints(7, cells(5)).toVector == Gen.geoPoints(7, cells(5)).toVector)
  }

  private def inside(ring: Seq[(Double, Double)], x: Double, y: Double): Boolean =
    ring.zip(ring.tail).count { case ((x1, y1), (x2, y2)) =>
      (y1 > y) != (y2 > y) && x < (x2 - x1) * (y - y1) / (y2 - y1) + x1
    } % 2 == 1

  private def generatorPlantsWhatItReports(): Unit = {
    val ups = (0 until 8).map(Gen.labUpload(11, _))
    check("one upload in four carries a byte-order mark")(
      ups.grouped(4).forall(_.count(_.bom) == 1))
    check("upload pairs carry 100k rows")(ups.grouped(2).forall(_.map(_.rows).sum == 100000))
    val seeded = (0 until Gen.SeedUploads).map(Gen.seedUpload(11, _))
    check("every upload of a run goes to one district")(
      (seeded ++ ups).map(_.district).distinct.size == 1)
    check("set-up and the first four uploads take six distinct slices")(
      (seeded ++ ups.take(4)).map(u => (u.sector, u.year)).distinct.size == 6)
    ups.take(2).foreach { up =>
      val text = new String(up.bytes, StandardCharsets.UTF_8)
      val lines = text.stripPrefix("\uFEFF").split(if (up.bom) "\r\n" else "\n").drop(1)
      val valid = lines.count { l =>
        val year = l.takeWhile(_ != ',')
        year == up.year.toString || year == s"${up.year}.0"
      }
      check(s"upload ${up.name} has ${up.rows} rows")(lines.length == up.rows)
      check(s"upload ${up.name} plants its invalid years")(valid == up.validYearRows)
    }
    val docs = new Gen.DocStream(11)
    val batches = (0 until 4).map(docs.batch)
    check("batch pairs carry 7000 documents")(batches.grouped(2).forall(_.map(_.size).sum == 7000))
    val later = batches.drop(1).flatten
    check("about 15 % planted edits")(
      math.abs(later.count(_.kind == Gen.Edit).toDouble / later.size - Gen.EditShare) < 0.01)
    val byId = batches.flatten.map(d => d.id -> d).toMap
    check("exact duplicates copy an earlier fresh document of their batch")(
      batches.forall(bt => bt.filter(_.kind == Gen.ExactDup).forall { d =>
        val src = byId(d.source)
        src.kind == Gen.Fresh && src.id < d.id && src.text == d.text && bt.contains(src)
      }))
    val cells = Gen.geoCells(11)
    cells.take(200).foreach { c =>
      val pts = Gen.geoPoints(11, c).toVector
      val (in, gap) = pts.splitAt(c.points)
      check(s"cell ${c.id} inside points lie in its polygon")(
        in.forall(r => inside(c.ring, r.getDouble(0), r.getDouble(1))))
      check(s"cell ${c.id} gap points lie in no polygon")(gap.forall { r =>
        cells.forall(o => !inside(o.ring, r.getDouble(0), r.getDouble(1)))
      })
    }
  }

  private def checksRejectCorruptedResults(): Unit = {
    val docs = new Gen.DocStream(5)
    docs.batch(0)
    val batch = docs.batch(1)
    val truth = batch.map { d =>
      d.id -> (d.kind match {
        case Gen.Fresh => "accepted"
        case Gen.Edit => "dropped_vs_history"
        case _ => "dropped_in_batch"
      })
    }
    check("correct verdicts pass")(Checks.verdicts(batch, truth).isEmpty)
    rejects("a dropped verdict row")(Checks.verdicts(batch, truth.tail))
    rejects("a repeated verdict row")(Checks.verdicts(batch, truth :+ truth.head))
    val dup = batch.indexWhere(_.kind == Gen.ExactDup)
    rejects("a flipped duplicate verdict")(
      Checks.verdicts(batch, truth.updated(dup, truth(dup)._1 -> "accepted")))
    rejects("a verdict for an unknown document")(Checks.verdicts(batch, truth :+ (-5L -> "accepted")))
    check("store band rows pass")(Checks.storeBands(40, 10).isEmpty)
    rejects("a missing band row")(Checks.storeBands(39, 10))

    check("a correct lab result passes")(Checks.lab(980, 980, 1960, 1960, 1960).isEmpty)
    rejects("a dropped raw record")(Checks.lab(979, 980, 1960, 1960, 1960))
    rejects("a summary short of silver")(Checks.lab(980, 980, 1959, 1960, 1960))
    rejects("silver short of delivered rows")(Checks.lab(980, 980, 1959, 1959, 1960))

    val expected = Map(1L -> 10L, 2L -> 0L, 3L -> 7L)
    val got = Seq(1L -> 10L, 2L -> 0L, 3L -> 7L)
    check("correct zonal counts pass")(Checks.geo(expected, got).isEmpty)
    rejects("a dropped boundary row")(Checks.geo(expected, got.tail))
    rejects("a gap point counted in a boundary")(Checks.geo(expected, got.updated(1, 2L -> 1L)))

    val kpiSchema = StructType(Seq(StructField("total_tests", LongType)))
    def kpi(n: Long): Seq[Row] = Seq(new GenericRowWithSchema(Array[Any](n), kpiSchema))
    check("a correct kpi total passes")(Checks.dashboard("kpi", kpi(500), 500, 490, Map()).isEmpty)
    rejects("a kpi total missing a row")(Checks.dashboard("kpi", kpi(499), 500, 490, Map()))
    val rows = Seq(Row(1L, "a"), Row(2L, "b"))
    check("the result hash ignores row order")(
      Checks.resultHash(rows) == Checks.resultHash(rows.reverse))
    check("the result hash sees a changed value")(
      Checks.resultHash(rows) != Checks.resultHash(Seq(Row(1L, "a"), Row(3L, "b"))))
  }
}
