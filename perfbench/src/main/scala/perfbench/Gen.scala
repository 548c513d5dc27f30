package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.SplittableRandom

/** Seeded workload inputs. Everything here is a pure function of the seed
  * and the stated sizes, and uses no code of the engine under test, so a
  * change to the engine cannot change its own inputs.
  */
object Gen {

  /** The reference generator's ten symbols with their weights (RELIANCE
    * and TCS 3, HDFCBANK and INFY 2, the rest 1, as FIXTURES.md section 4
    * records them) and the start prices of `graft.sources.TradeGenerator`.
    */
  val symbols: Vector[(String, Int, Double)] = Vector(
    ("RELIANCE", 3, 2850.0), ("TCS", 3, 3900.0), ("HDFCBANK", 2, 1650.0),
    ("INFY", 2, 1500.0), ("ICICIBANK", 1, 1100.0), ("SBIN", 1, 780.0),
    ("BHARTIARTL", 1, 1200.0), ("ITC", 1, 440.0), ("LT", 1, 3600.0),
    ("WIPRO", 1, 520.0))

  /** Planted corruptions, one per corrupted row, named by the validator
    * rule that must reject the row (the reference's first-failure rules).
    * "malformed_price" writes a non-number, which the CSV parser turns into
    * the zero default, so the row fails the price rule.
    */
  private val corruptions = Vector(
    "invalid_symbol", "invalid_price", "invalid_volume", "invalid_side",
    "invalid_type", "invalid_timestamp", "malformed_price")

  final case class Trades(rows: Long, bytes: Long, rejects: Map[String, Long])

  private def weightedSymbol(r: SplittableRandom): Int = {
    val total = symbols.map(_._2).sum
    var x = r.nextInt(total); var i = 0
    while (x >= symbols(i)._2) { x -= symbols(i)._2; i += 1 }
    i
  }

  /** The reference generator's trade CSV (reference
    * src/tools/DataGenerator.hpp:49-228): weighted symbol choice, a
    * per-symbol normal(0, 0.5) random walk of the price clamped to
    * [50, 99999], volumes U(10, 5000), 50/50 side, 30/60/10 M/L/I types,
    * 20% pro flags, ns timestamps from 1698208500000000000 with U(5 us,
    * 50 us) gaps, trade_id = 1000000 + i, order_id = 2000000 + i.
    *
    * The reference writes no invalid rows. Here `invalidShare` of the rows
    * carry exactly one planted corruption, so that the validator's reject
    * path and the dead-letter counts have rows to work on and to check.
    * Rows are spread over `files` part files so a scan can split them
    * across tasks.
    */
  def tradesCsv(dir: File, n: Long, files: Int, seed: Long,
      invalidShare: Double): Trades = {
    dir.mkdirs()
    val r = new SplittableRandom(seed)
    val price = symbols.map(_._3).toArray
    val rejects = scala.collection.mutable.Map[String, Long]()
    var bytes = 0L
    var stamp = 1698208500000000000L
    val perFile = (n + files - 1) / files
    var i = 0L
    for (f <- 0 until files) {
      val w = new BufferedWriter(new FileWriter(new File(dir, f"part-$f%05d.csv")), 1 << 16)
      w.write("trade_id,order_id,timestamp,symbol,price,volume,side,type,is_pro\n")
      val end = math.min(n, i + perFile)
      val line = new java.lang.StringBuilder(96)
      while (i < end) {
        val s = weightedSymbol(r)
        price(s) = math.max(50.0, math.min(99999.0, price(s) + r.nextGaussian() * 0.5))
        var sym = symbols(s)._1
        val cents = math.round(price(s) * 100)
        var px = s"${cents / 100}.${if (cents % 100 < 10) "0" else ""}${cents % 100}"
        var vol = (10 + r.nextInt(4991)).toString
        var side = if (r.nextBoolean()) "B" else "S"
        val t = r.nextDouble()
        var typ = if (t < 0.3) "M" else if (t < 0.9) "L" else "I"
        stamp += 5000L + r.nextInt(45001)
        var ts = stamp.toString
        val pro = if (r.nextDouble() < 0.2) "1" else "0"
        if (r.nextDouble() < invalidShare) {
          val kind = corruptions(r.nextInt(corruptions.size))
          kind match {
            case "invalid_symbol"    => sym = sym.toLowerCase
            case "invalid_price"     => px = "-" + px
            case "invalid_volume"    => vol = "0"
            case "invalid_side"      => side = "X"
            case "invalid_type"      => typ = "Z"
            case "invalid_timestamp" => ts = "0"
            case "malformed_price"   => px = "n/a"
          }
          val reason = if (kind == "malformed_price") "invalid_price" else kind
          rejects(reason) = rejects.getOrElse(reason, 0L) + 1
        }
        line.setLength(0)
        line.append(1000000L + i).append(',').append(2000000L + i).append(',')
          .append(ts).append(',').append(sym).append(',').append(px).append(',')
          .append(vol).append(',').append(side).append(',').append(typ).append(',')
          .append(pro).append('\n')
        w.append(line)
        bytes += line.length
        i += 1
      }
      w.close()
    }
    Trades(n, bytes, rejects.toMap)
  }

  // ---- estate inputs -------------------------------------------------

  /** A Zipf(s) sampler over ranks 1..v by inverse-CDF table lookup. */
  final class Zipf(v: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(v)(k => 1.0 / math.pow(k + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(v - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** Word for vocabulary rank k: lowercase letters only, distinct per rank. */
  def word(k: Int): String = {
    val sb = new StringBuilder("w")
    var x = k
    do { sb.append(('a' + x % 26).toChar); x /= 26 } while (x > 0)
    sb.toString
  }

  final case class Doc(id: Long, text: String, vec: Array[Double])

  /** Estate document stream properties. */
  final case class DocSpec(
      vocab: Int = 20000, zipfS: Double = 1.1,
      minLen: Int = 20, maxLen: Int = 60,
      exactDupShare: Double = 0.05, nearDupShare: Double = 0.05,
      dim: Int = 32, clusters: Int = 16, noise: Double = 0.15)

  /** Seeded generator of documents. Exact duplicates copy an earlier
    * document's text verbatim; near duplicates copy it and replace one
    * token, which keeps the 3-shingle Jaccard well above 0.5 for these
    * lengths. Each doc gets one embedding near one of `clusters` centres.
    */
  final class DocStream(spec: DocSpec, seed: Long) {
    private val r = new SplittableRandom(seed)
    private val zipf = new Zipf(spec.vocab, spec.zipfS)
    val centres: Array[Array[Double]] = Array.fill(spec.clusters)(unit(
      Array.fill(spec.dim)(r.nextDouble(-1.0, 1.0))))
    private val history = scala.collection.mutable.ArrayBuffer[Array[String]]()
    private var nextId = 0L

    private def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    def vector(): Array[Double] = {
      val c = centres(r.nextInt(spec.clusters))
      c.map(x => math.rint((x + r.nextGaussian() * spec.noise) * 1e6) / 1e6)
    }
    private def freshTokens(): Array[String] =
      Array.fill(spec.minLen + r.nextInt(spec.maxLen - spec.minLen + 1))(
        word(zipf.draw(r)))

    def next(): Doc = {
      val u = r.nextDouble()
      val toks =
        if (history.nonEmpty && u < spec.exactDupShare)
          history(r.nextInt(history.size))
        else if (history.nonEmpty && u < spec.exactDupShare + spec.nearDupShare) {
          val t = history(r.nextInt(history.size)).clone()
          t(r.nextInt(t.length)) = word(zipf.draw(r))
          t
        } else freshTokens()
      history += toks
      val d = Doc(nextId, toks.mkString(" "), vector())
      nextId += 1
      d
    }
    def batch(n: Int): Vector[Doc] = Vector.fill(n)(next())

    /** Probe documents: a third verbatim copies of past docs, a third
      * near copies, a third fresh; ids from `idBase` up, disjoint from the
      * corpus.
      */
    def probeDocs(n: Int, idBase: Long): Vector[Doc] = Vector.tabulate(n) { i =>
      val toks = (i % 3) match {
        case 0 => history(r.nextInt(history.size))
        case 1 =>
          val t = history(r.nextInt(history.size)).clone()
          t(r.nextInt(t.length)) = word(zipf.draw(r)); t
        case _ => freshTokens()
      }
      Doc(idBase + i, toks.mkString(" "), vector())
    }

    /** Keyword queries of 2-4 Zipf-drawn terms. */
    def queries(n: Int): Vector[(Long, String)] = Vector.tabulate(n) { i =>
      (i.toLong, Vector.fill(2 + r.nextInt(3))(word(zipf.draw(r))).mkString(" "))
    }
  }
}
