package perfbench

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite with org.scalatest.BeforeAndAfterAll {

  private val dirs = scala.collection.mutable.ArrayBuffer[File]()
  private def tmp(): File = {
    val d = Files.createTempDirectory("perfbench-gen").toFile
    dirs += d
    d
  }
  override def afterAll(): Unit = dirs.foreach(d => graft.sources.Sinks.rmrf(d.getPath))

  /** Every file under `dir`, by relative path, with its bytes. */
  private def contents(dir: File): Map[String, Seq[Byte]] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(dir).map(f => dir.toPath.relativize(f.toPath).toString ->
      Files.readAllBytes(f.toPath).toSeq).toMap
  }

  private val transitSize = Gen.TransitSize(routes = 5, weekdayTrips = 4, weekendTrips = 3, stops = 6)
  private val graphSize = Gen.GraphSize(components = 3, cardsPer = 40, stopsPer = 8,
    tapsPerCard = 3, pairs = 4)
  private val taxiSize = Gen.TaxiSize(grid = 8, block = 1600.0, cabs = 3, tripsPerCab = 5,
    pointsPerTrip = 6, chunks = 2)

  private val generators: Seq[(String, (File, Long) => Any)] = Seq(
    "transit" -> ((d, s) => Gen.transit(d, s, transitSize)),
    "graph" -> ((d, s) => Gen.graph(d, s, graphSize)),
    "taxi" -> ((d, s) => Gen.taxi(d, s, taxiSize)))

  generators.foreach { case (name, gen) =>
    test(s"$name: the same seed writes byte-identical files and the same truth") {
      val (a, b) = (tmp(), tmp())
      val (ta, tb) = (gen(a, 42L), gen(b, 42L))
      assert(ta == tb)
      val (ca, cb) = (contents(a), contents(b))
      assert(ca.nonEmpty)
      assert(ca.keySet == cb.keySet)
      ca.foreach { case (f, bytes) => assert(bytes == cb(f), s"$f differs") }
    }

    test(s"$name: another seed writes other data in the same layout") {
      val (a, b) = (tmp(), tmp())
      gen(a, 1L); gen(b, 2L)
      val (ca, cb) = (contents(a), contents(b))
      assert(ca.keySet == cb.keySet)
      assert(ca.exists { case (f, bytes) => bytes != cb(f) })
    }
  }

  test("transit truth: anomaly counts add up to the lines written") {
    val t = Gen.transit(tmp(), 7L, transitSize)
    t.days.values.foreach { d =>
      assert(d.headers == 3) // two file headers and one mid-file header
      assert(d.nonRevenue == 2 * transitSize.routes)
      assert(d.lines == d.headers + d.nonRevenue + d.valid + d.duplicates +
        d.misaligned + d.qcFail)
    }
    assert(t.days.size == Gen.Days)
    assert(t.linesByFile.size == Gen.Days + 1) // the corrected day twice
  }

  test("taxi truth: every planted trip is counted once") {
    val t = Gen.taxi(tmp(), 3L, taxiSize)
    assert(t.trips == taxiSize.cabs * taxiSize.tripsPerCab)
    assert(t.links == 2 * 2 * taxiSize.grid * (taxiSize.grid - 1))
  }

  test("graph truth: planted districts plus isolated pairs") {
    val t = Gen.graph(tmp(), 3L, graphSize)
    assert(t.components == graphSize.components + graphSize.pairs)
  }
}
