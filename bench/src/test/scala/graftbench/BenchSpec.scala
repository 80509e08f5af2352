package graftbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  private def log(seed: Long): (Seq[String], ChangelogGen) = {
    val g = new ChangelogGen(seed, 3, 200)
    val lines = g.prepare().toVector ++ g.transactions(1500) ++ g.transactions(500)
    (lines, g)
  }

  test("the same seed gives a byte-identical log; another seed does not") {
    val (a, _) = log(11)
    val (b, _) = log(11)
    val (c, _) = log(12)
    assert(a == b)
    assert(a != c)
    val dir = Files.createTempDirectory("gen")
    val p1 = ChangelogGen.publish(dir, "x", a.iterator)
    val p2 = ChangelogGen.publish(dir, "y", b.iterator)
    assert(java.util.Arrays.equals(Files.readAllBytes(p1), Files.readAllBytes(p2)))
    // nothing but the published files is left behind
    assert(Files.list(dir).count() == 2)
  }

  test("seqs are dense and the expected state is last event wins, deletes absent") {
    val (lines, g) = log(5)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val events = lines.map(l => mapper.readTree(l))
    assert(events.map(_.get("seq").asLong) == events.indices.map(_.toLong))
    val replay = Array.fill(3)(scala.collection.mutable.Map.empty[Int, ChangelogGen.Row])
    events.foreach { e =>
      val t = e.get("table").asText.stripPrefix("sbtest").toInt - 1
      val a = e.get("after")
      val id = a.get("id").asText.toInt
      e.get("op").asText match {
        case "delete" =>
          assert(replay(t).remove(id).isDefined, "a delete finds its row")
        case "update" =>
          assert(replay(t).contains(id), "an update finds its row")
          replay(t)(id) =
            ChangelogGen.Row(a.get("k").asText.toInt, a.get("c").asText, a.get("pad").asText)
        case _ => replay(t)(id) =
          ChangelogGen.Row(a.get("k").asText.toInt, a.get("c").asText, a.get("pad").asText)
      }
    }
    (0 until 3).foreach { t =>
      import scala.jdk.CollectionConverters._
      assert(g.expected(t).asScala.toMap == replay(t).toMap)
    }
    // the op counts are the log's, and compaction keeps one row per key
    val ops = events.groupBy(_.get("op").asText).map { case (k, v) => k -> v.size.toLong }
    assert(ops == g.ops.toMap)
    assert(g.touchedKeys == events.map(e => (e.get("table").asText,
      e.get("after").get("id").asText)).distinct.size)
  }

  test("the run phase follows oltp_write_only: 2 updates, a delete and an insert") {
    val g = new ChangelogGen(3, 2, 1000)
    g.prepare().foreach(_ => ())
    val before = g.ops.toMap
    g.transactions(2500).foreach(_ => ())
    val run = g.ops.map { case (op, n) => op -> (n - before(op)) }.toMap
    assert(run == Map("update" -> 5000L, "delete" -> 2500L, "insert" -> 2500L))
    // every id is present again after each delete/insert pair
    assert(g.expected.map(_.size).sum == 2000)
  }

  test("special key distribution: 75% of draws in the middle 1% of ids") {
    val g = new ChangelogGen(9, 1, 10000)
    val ids = Array.fill(200000)(g.specialId())
    assert(ids.min >= 1 && ids.max <= 10000)
    val hot = ids.count(id => id >= 4951 && id <= 5050).toDouble / ids.length
    // 75% special draws plus the bell part's share of the same ids
    assert(hot > 0.75 && hot < 0.80, hot)
    assert(ids.distinct.length > 1000)
  }

  test("percentile rule: the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(99).contains(50.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(999).contains(90.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    val xs = (1 to 1000).map(_.toDouble)
    assert(Stats.tailReport(xs).startsWith("p99.0=990.01"))
    assert(Stats.tailReport(xs).endsWith("(n=1000)"))
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }

  test("lag attribution from a synthetic progress sequence") {
    import Lag._
    val chunks = Seq(Chunk(0, 9, 1000), Chunk(10, 19, 1100), Chunk(20, 29, 1200))
    // the first commit covers part of the second chunk; a later idle
    // progress event repeats an old offset; the third chunk is never
    // committed past seq 24
    val progress = Seq(Progress(4000, 14), Progress(7000, 24), Progress(7500, 24))
    val runs = attribute(chunks, progress)
    assert(runs == Seq(
      (10L, Some(3.0)),
      (5L, Some(2.9)), (5L, Some(5.9)),
      (5L, Some(5.8)), (5L, None)))
    val s = samples(runs)
    assert(s.length == 25)
    // arrival order decides, not the order the events are listed in
    assert(attribute(chunks.take(1), progress.reverse) == Seq((10L, Some(3.0))))
  }

  test("interval union") {
    assert(Intervals.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L), (25L, 26L))) == 25)
    assert(Intervals.covered(Seq((5L, 5L), (7L, 3L))) == 0)
  }
}
