package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.types._

/** One row image of the benchmark's CDC table. */
final case class Img(name: String, qty: Long, priceCents: Long, status: String, tsMs: Long)

/** One change: op c/u/d/r, the log position `lsn` (strictly increasing)
  * and the images (after is null for a delete, before is null for an
  * insert or snapshot read).
  */
final case class Change(id: Long, op: String, lsn: Long, tsMs: Long, after: Img, before: Img)

/** Expected read results at one committed epoch. `changes` holds the
  * rendered rows `changesBetween(epoch - 1, epoch)` must return.
  */
final case class Mark(agg: Seq[Long], lookups: Set[String], changes: Set[String])

/** Seeded generator of Debezium change envelopes over `nKeys` keys,
  * zipf-skewed (exponent `zipfS`; rank r maps to a key through a fixed
  * permutation so hot keys spread over buckets), with `deleteFrac` of
  * the changes to live keys being deletes.
  *
  * It replays every change it emits into an in-memory table, which is
  * the reference the benchmark checks the sink's reads against: the
  * live rows, a running aggregate, and per-epoch [[Mark]]s.
  */
final class ChangeGen(seed: Long, val nKeys: Int, zipfS: Double = 1.1, deleteFrac: Double = 0.05) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val cdf: Array[Double] = {
    val w = Array.tabulate(nKeys)(i => 1.0 / math.pow(i + 1.0, zipfS))
    var acc = 0.0
    val total = w.sum
    w.map { x => acc += x / total; acc }
  }
  private val Prime = 1000003L
  private def keyOfRank(r: Int): Long = (r * Prime + 7919L) % nKeys

  private val live = new java.util.HashMap[Long, Img]()
  private var lsn = 0L
  // count, sum(qty), sum(price_cents), sum(length(name)), sum(last_ts_ms)
  private val agg = Array.fill(5)(0L)
  private val touched = mutable.LinkedHashMap.empty[Long, Option[Img]]
  val log = mutable.ArrayBuffer.empty[Change]

  /** 50 of the hottest keys and 50 uniformly drawn ones. */
  val lookupKeys: Seq[Long] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5eedL)
    ((0 until 50).map(keyOfRank) ++ Iterator.continually(r.nextLong(nKeys.toLong)).take(200))
      .distinct.take(100)
  }

  private def drawKey(): Long = {
    val u = rnd.nextDouble()
    var i = java.util.Arrays.binarySearch(cdf, u)
    if (i < 0) i = -i - 1
    keyOfRank(math.min(i, nKeys - 1))
  }

  private val statuses = Array("new", "paid", "shipped", "returned")

  private def image(id: Long, ts: Long): Img =
    Img(s"item-$id-${rnd.nextInt(100000)}", 1L + rnd.nextInt(100), 100L + rnd.nextInt(100000),
      statuses(rnd.nextInt(statuses.length)), ts)

  private def addAgg(i: Img, sign: Long): Unit = {
    agg(0) += sign; agg(1) += sign * i.qty; agg(2) += sign * i.priceCents
    agg(3) += sign * i.name.length; agg(4) += sign * i.tsMs
  }

  private def emit(id: Long, forceSnapshot: Boolean): Change = {
    lsn += 1
    val ts = 1700000000000L + lsn / 4
    val before = live.get(id)
    if (!touched.contains(id)) touched(id) = Option(before)
    val ch =
      if (forceSnapshot) Change(id, "r", lsn, ts, image(id, ts), null)
      else if (before == null) Change(id, "c", lsn, ts, image(id, ts), null)
      else if (rnd.nextDouble() < deleteFrac) Change(id, "d", lsn, ts, null, before)
      else Change(id, "u", lsn, ts, image(id, ts), before)
    if (before != null) addAgg(before, -1)
    if (ch.after != null) { live.put(id, ch.after); addAgg(ch.after, 1) }
    else live.remove(id)
    log += ch
    ch
  }

  /** A snapshot read of every key (op 'r'). */
  def snapshot(): Seq[Change] = (0L until nKeys).map(emit(_, forceSnapshot = true))

  /** `n` changes to zipf-drawn keys. */
  def changes(n: Int): Seq[Change] = (0 until n).map(_ => emit(drawKey(), forceSnapshot = false))

  def liveRows: Long = agg(0)

  /** Close an epoch: the expected reads at it, and the change feed
    * since the previous mark.
    */
  def mark(): Mark = {
    val lookups = lookupKeys.flatMap(k => Option(live.get(k)).map(render(k, _))).toSet
    val changes = touched.iterator.flatMap { case (k, before) =>
      val after = Option(live.get(k))
      (before, after) match {
        case (None, Some(a)) => Some(renderChange(k, "added", Some(a)))
        case (Some(_), None) => Some(renderChange(k, "removed", None))
        case (Some(b), Some(a)) if b != a => Some(renderChange(k, "changed", Some(a)))
        case _ => None
      }
    }.toSet
    touched.clear()
    Mark(agg.toSeq, lookups, changes)
  }

  def render(id: Long, i: Img): String = s"$id|${i.name}|${i.qty}|${i.priceCents}|${i.status}|${i.tsMs}"
  def renderChange(id: Long, change: String, i: Option[Img]): String =
    s"$id|$change|" + i.fold("null|null|null|null|null")(x =>
      s"${x.name}|${x.qty}|${x.priceCents}|${x.status}|${x.tsMs}")
}

object ChangeGen {
  val pkSchema: StructType = StructType(Seq(StructField("id", LongType)))
  val rowSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType), StructField("qty", LongType),
    StructField("price_cents", LongType), StructField("status", StringType)))
  /** State columns in a fixed order, for comparisons. */
  val stateCols: Seq[String] = Seq("id", "name", "qty", "price_cents", "status", "last_ts_ms")

  private def imgJson(id: Long, i: Img): String =
    if (i == null) "null"
    else s"""{"id":$id,"name":"${i.name}","qty":${i.qty},"price_cents":${i.priceCents},"status":"${i.status}"}"""

  private def quoted(json: String): String = "\"" + json.replace("\"", "\\\"") + "\""

  /** One JSON line in the file source's shape (key, value, topic). */
  def envelope(c: Change): String = {
    val key = s"""{"payload":{"id":${c.id}}}"""
    val value =
      s"""{"payload":{"before":${imgJson(c.id, c.before)},"after":${imgJson(c.id, c.after)},""" +
        s""""source":{"version":"2.5","connector":"postgresql","name":"bench","ts_ms":${c.tsMs},""" +
        s""""db":"inventory","table":"items","lsn":${c.lsn}},"op":"${c.op}","ts_ms":${c.tsMs}}}"""
    s"""{"key":${quoted(key)},"value":${quoted(value)},"topic":"bench.inventory.items"}"""
  }

  /** Write the changes as one JSON-lines file; returns its bytes. */
  def write(changes: Seq[Change], file: Path): Array[Byte] = {
    val sb = new StringBuilder(changes.size * 400)
    changes.foreach(c => sb.append(envelope(c)).append('\n'))
    val bytes = sb.toString.getBytes(UTF_8)
    Files.createDirectories(file.getParent)
    Files.write(file, bytes)
    bytes
  }
}
