package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Seeded EODHD trade-frame WAL: `tickers` symbols over one trading day
  * (2025-07-02, 09:30–16:00 New York), in event-time order, with fixed
  * shares of
  *  - exact redeliveries (A3: the same frame again, a little later),
  *  - same-key changed payloads (A4: same symbol and ms, new price),
  *  - control and malformed frames (T8: status frames, frames without a
  *    symbol, truncated JSON).
  * The same seed gives byte-identical frames. The expected store content
  * follows from the frames alone, so a drain can be checked without
  * re-deriving it through the code under test.
  */
final class TickWal(seed: Long, val frames: Int, tickers: Int = 20) {
  val redeliveryShare = 0.03
  val conflictShare = 0.02
  val controlShare = 0.01
  private val sessionStartMs = 1751463000000L // 2025-07-02 13:30:00 UTC
  private val sessionMs = 23400000L

  val lines: IndexedSeq[String] = {
    val rng = new scala.util.Random(seed)
    val symbols = Iterator.continually(
      (1 to 3 + rng.nextInt(2)).map(_ => ('A' + rng.nextInt(26)).toChar).mkString)
      .distinct.take(tickers).toIndexedSeq
    val price = Array.fill(tickers)(20.0 + rng.nextInt(480))
    val baseFrames = (frames / (1 + redeliveryShare + conflictShare + controlShare)).toInt + 1
    val stepMs = sessionMs / baseFrames
    // frames waiting to be re-sent: (due at output position, frame)
    val pending = mutable.PriorityQueue.empty[(Int, Long, String)](
      Ordering.by[(Int, Long, String), (Int, Long)](p => (-p._1, -p._2)))
    val out = new mutable.ArrayBuffer[String](frames)
    var i = 0L
    var order = 0L
    def later(f: String): Unit = {
      pending.enqueue((out.size + 1 + rng.nextInt(3000), order, f)); order += 1
    }
    def fmt(p: Double) = "%.4f".formatLocal(java.util.Locale.ROOT, p)
    def trade(s: String, p: Double, v: Long, t: Long) =
      s"""{"s":"$s","p":${fmt(p)},"v":$v,"c":[37],"dp":false,"t":$t}"""
    while (out.size < frames) {
      if (pending.nonEmpty && pending.head._1 <= out.size) out += pending.dequeue()._3
      else {
        val k = rng.nextInt(tickers)
        price(k) = math.max(1.0, price(k) * (1 + (rng.nextDouble() - 0.5) * 0.002))
        val t = sessionStartMs + i * stepMs + rng.nextInt(stepMs.toInt)
        val v = 1L + rng.nextInt(500)
        val f = trade(symbols(k), price(k), v, t)
        out += f
        val u = rng.nextDouble()
        if (u < redeliveryShare) later(f)
        else if (u < redeliveryShare + conflictShare) later(trade(symbols(k), price(k) + 0.01, v, t))
        else if (u < redeliveryShare + conflictShare + controlShare) later(rng.nextInt(3) match {
          case 0 => """{"status_code":200,"message":"Authorized"}"""
          case 1 => s"""{"p":${fmt(price(k))},"v":$v,"t":$t}"""
          case _ => trade(symbols(k), price(k), v, t).take(20)
        })
        i += 1
      }
    }
    out.toIndexedSeq
  }

  /** What a correct drain leaves in the store: distinct payload rows,
    * rows at version 2, and the order-free sums of volume and event ms. */
  final case class Expected(rows: Long, version2: Long, volumeSum: Long, msSum: Long,
      controlFrames: Long, redeliveries: Long, perTicker: Map[String, (Long, Long)])

  lazy val expected: Expected = {
    val Trade = """\{"s":"([A-Z]+)","p":([0-9.]+),"v":([0-9]+),"c":\[37\],"dp":false,"t":([0-9]+)\}""".r
    val payloads = mutable.HashSet.empty[(String, Long, String, Long)]
    val perKey = mutable.HashMap.empty[(String, Long), Int]
    var control, redeliveries = 0L
    lines.foreach {
      case Trade(s, p, v, t) =>
        if (payloads.add((s, t.toLong, p, v.toLong)))
          perKey((s, t.toLong)) = perKey.getOrElse((s, t.toLong), 0) + 1
        else redeliveries += 1
      case _ => control += 1
    }
    require(perKey.values.forall(_ <= 2), "generator made more than two payloads per key")
    val perTicker = perKey.groupBy(_._1._1).map { case (s, ks) =>
      s -> (ks.values.sum.toLong, ks.values.count(_ == 2).toLong) }
    Expected(payloads.size, perKey.values.count(_ == 2),
      payloads.iterator.map(_._4).sum, payloads.iterator.map(_._2).sum, control, redeliveries,
      perTicker)
  }

  /** Write the frames in the WsSource WAL layout: segment k holds frames
    * [k*segmentSize, (k+1)*segmentSize), one frame per line. */
  def write(dir: Path, segmentSize: Int): Unit = {
    Files.createDirectories(dir)
    lines.grouped(segmentSize).zipWithIndex.foreach { case (seg, k) =>
      Files.write(dir.resolve(f"$k%012d.seg"),
        seg.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
  }
}
