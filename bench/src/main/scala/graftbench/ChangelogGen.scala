package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import graft.meta.{ColumnDef, TableDef}

/** Seeded changelog of sysbench traffic on `sbtest1..N` (`id` PK, `k`,
  * `c`, `pad`), the schema of the reference's sample deployments: the
  * row events a binlog holds after `sysbench oltp_write_only prepare`
  * and `run`, as sysbench 1.0's `oltp_common.lua` issues them.
  *
  *  - [[prepare]] inserts ids `1..tableSize` into every table, with
  *    `k` drawn from the key distribution.
  *  - Each [[transactions]] transaction is `oltp_write_only`'s event:
  *    one index update (`k = k + 1`), one non-index update (new `c`)
  *    and one delete followed by an insert of the same id (new `k`,
  *    `c`, `pad`). Each statement picks its table uniformly and its id
  *    from the key distribution, so the run phase is 50% updates, 25%
  *    deletes and 25% inserts, and every id stays present.
  *  - Ids come from sysbench's `special` distribution
  *    (`--rand-type=special`) with its default parameters (see
  *    [[specialId]]).
  *
  * The generator keeps the expected final state of every key (last
  * event wins, deleted keys absent) and the op counts. Everything is
  * drawn from one SplittableRandom, so a seed fixes every byte of the
  * log. Seqs start at 0 and are dense across calls.
  */
final class ChangelogGen(seed: Long, val tables: Int, val tableSize: Int) {
  import ChangelogGen._

  private val rng = new java.util.SplittableRandom(seed)

  /** id -> (k, c, pad) per table: the expected sink state. */
  val expected: Array[java.util.HashMap[Int, Row]] =
    Array.fill(tables)(new java.util.HashMap[Int, Row]())

  /** Events written so far, by op. */
  val ops: scala.collection.mutable.Map[String, Long] =
    scala.collection.mutable.LinkedHashMap("insert" -> 0L, "update" -> 0L, "delete" -> 0L)

  private val touched = Array.fill(tables)(new java.util.HashSet[Int]())
  /** Distinct keys the log touches: what compaction keeps of it. */
  def touchedKeys: Long = touched.map(_.size.toLong).sum

  private var seq = 0L
  def nextSeq: Long = seq

  /** sysbench's `sb_rand_special(1, tableSize)` with `--rand-spec-iter=12`,
    * `--rand-spec-pct=1`, `--rand-spec-res=75`: a quarter of draws are
    * the mean of 12 uniform draws (bell-shaped around the middle id),
    * the rest are uniform over the 1% of ids at the middle. */
  def specialId(): Int = {
    val t = tableSize.toLong
    val res = rng.nextLong(t * (100 / (100 - SpecRes)))
    if (res < t) {
      var sum = 0L
      var i = 0
      while (i < SpecIter) { sum += rng.nextLong(t); i += 1 }
      (1 + sum / SpecIter).toInt
    } else {
      val d = math.max(1L, t * SpecPct / 100)
      (1 + res % d + (t / 2 - t * SpecPct / 200)).toInt
    }
  }

  private def table(): Int = rng.nextInt(tables)

  // sysbench's `c` and `pad` templates: groups of 11 digits joined by '-'
  private def digits(groups: Int): String = {
    val sb = new java.lang.StringBuilder(groups * 12)
    var g = 0
    while (g < groups) {
      if (g > 0) sb.append('-')
      var x = rng.nextLong(100000000000L)
      var i = 0
      while (i < 11) { sb.append(('0' + (x % 10).toInt).toChar); x /= 10; i += 1 }
      g += 1
    }
    sb.toString
  }

  private def newRow(): Row = Row(specialId(), digits(10), digits(5))

  private def image(sb: java.lang.StringBuilder, id: Int, r: Row): Unit =
    sb.append("{\"id\":\"").append(id).append("\",\"k\":\"").append(r.k)
      .append("\",\"c\":\"").append(r.c).append("\",\"pad\":\"").append(r.pad)
      .append("\"}")

  /** One row event; applies it to the expected state. */
  private def event(t: Int, op: String, id: Int, after: Row, before: Row): String = {
    op match {
      case "delete" => expected(t).remove(id)
      case _ => expected(t).put(id, after)
    }
    touched(t).add(id)
    ops(op) += 1
    val sb = new java.lang.StringBuilder(512)
    sb.append("{\"db\":\"sbtest\",\"table\":\"sbtest").append(t + 1)
      .append("\",\"op\":\"").append(op).append("\",\"ts\":0")
      .append(",\"pos\":\"gtid:").append(seq).append("\",\"seq\":").append(seq)
      .append(",\"tableVersion\":0,\"after\":")
    image(sb, id, after)
    if (before != null) { sb.append(",\"before\":"); image(sb, id, before) }
    sb.append('}')
    seq += 1
    sb.toString
  }

  /** `prepare`: every id of every table, table by table. */
  def prepare(): Iterator[String] =
    Iterator.range(0, tables).flatMap { t =>
      Iterator.range(1, tableSize + 1).map(id => event(t, "insert", id, newRow(), null))
    }

  /** `n` oltp_write_only transactions, four row events each. Must
    * follow [[prepare]]: an update or delete finds its row. */
  def transactions(n: Int): Iterator[String] = Iterator.range(0, n).flatMap { _ =>
    val out = new Array[String](4)
    var t = table(); var id = specialId(); var cur = expected(t).get(id)
    out(0) = event(t, "update", id, cur.copy(k = cur.k + 1), cur)
    t = table(); id = specialId(); cur = expected(t).get(id)
    out(1) = event(t, "update", id, cur.copy(c = digits(10)), cur)
    t = table(); id = specialId(); cur = expected(t).get(id)
    out(2) = event(t, "delete", id, cur, null)
    out(3) = event(t, "insert", id, newRow(), null)
    out.iterator
  }

  def tableDefs: Seq[TableDef] = (1 to tables).map(ChangelogGen.tableDef)
}

object ChangelogGen {
  final case class Row(k: Int, c: String, pad: String)

  // sysbench 1.0 defaults for --rand-spec-iter, --rand-spec-pct, --rand-spec-res
  val SpecIter = 12
  val SpecPct = 1
  val SpecRes = 75

  def tableDef(i: Int): TableDef = TableDef("sbtest", s"sbtest$i", Seq(
    ColumnDef("id", "int", isPrimaryKey = true),
    ColumnDef("k", "int"),
    ColumnDef("c", "char(120)"),
    ColumnDef("pad", "char(60)")))

  /** Publish lines as `dir/name.jsonl` by atomic rename, so the source
    * never sees a partial file (it lists only `*.jsonl`). */
  def publish(dir: Path, name: String, lines: Iterator[String]): Path = {
    val tmp = dir.resolve(s".$name.tmp")
    val w = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    Files.move(tmp, dir.resolve(s"$name.jsonl"), StandardCopyOption.ATOMIC_MOVE)
  }
}
