package perfbench

import java.io.ByteArrayOutputStream
import java.util.Base64
import java.util.zip.GZIPOutputStream
import scala.collection.mutable
import scala.util.Random

/** Seeded input generator for every workload. The same seed gives
  * byte-identical inputs; the engine receives only what is generated
  * here, and every output check compares against the ground truth kept
  * beside the inputs.
  */
object Gen {

  /** Skewed rank sampler: rank r in [0, n) with weight 1 / (r + 1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }
    def next(rng: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  // ---- flow-log world: ENIs, public sources, geo ---------------------

  final case class Eni(id: String, ip: String, groups: Seq[String], inDim: Boolean)
  final case class Geo(ip: String, cc: String, country: String, region: String,
      city: String, lat: Double, lon: Double)

  final class World(val enis: IndexedSeq[Eni], val publicIps: IndexedSeq[String],
      val geo: Map[String, Geo], val scanners: IndexedSeq[String])

  val BaseEpoch = 1767225600L // 2026-01-01T00:00:00Z
  val Days = 4

  def world(seed: Long): World = {
    val rng = new Random(seed * 31 + 1)
    val seen = mutable.HashSet.empty[String]
    def uniq(f: => String): String = { var s = f; while (!seen.add(s)) s = f; s }
    val enis = (0 until 2000).map { _ =>
      Eni(uniq(f"eni-${rng.nextInt() & 0x7fffffff}%08x"),
        uniq(s"172.31.${rng.nextInt(256)}.${1 + rng.nextInt(254)}"),
        Seq.fill(1 + rng.nextInt(3))(s"sg-${rng.nextInt(500)}").distinct,
        rng.nextDouble() >= 0.10)
    }
    val firstOctets = Array(52, 54, 34, 35, 18, 3, 13, 99)
    val pub = (0 until 500).map(_ => uniq(
      s"${firstOctets(rng.nextInt(firstOctets.length))}.${rng.nextInt(256)}." +
        s"${rng.nextInt(256)}.${1 + rng.nextInt(254)}"))
    val countries = Seq("US" -> "United States", "DE" -> "Germany",
      "JP" -> "Japan", "BR" -> "Brazil", "IN" -> "India", "FR" -> "France",
      "AU" -> "Australia", "CA" -> "Canada")
    val geo = pub.filter(_ => rng.nextDouble() < 0.75).map { ip =>
      val (cc, name) = countries(rng.nextInt(countries.size))
      ip -> Geo(ip, cc, name, s"R${rng.nextInt(20)}", s"City${rng.nextInt(200)}",
        rng.nextInt(180000) / 1000.0 - 90.0, rng.nextInt(360000) / 1000.0 - 180.0)
    }.toMap
    new World(enis, pub, geo, pub.take(12))
  }

  // ---- flow records ---------------------------------------------------

  /** One generated line and what the decorator must make of it. */
  final case class Flow(line: String, ok: Boolean, eni: String, src: String,
      dst: String, dstport: Int, packets: Long, bytes: Long, start: Long,
      action: String, eniHit: Boolean, geoHit: Boolean) {
    def date: String = java.time.LocalDate.ofEpochDay(start / 86400).toString
  }

  private val Ports = Array(443, 443, 443, 80, 80, 22, 53, 3389, 8080, 5432)

  final class FlowGen(w: World, seed: Long) {
    private val rng = new Random(seed)
    private val eniZipf = new Zipf(w.enis.size, 1.0)
    private val pubZipf = new Zipf(w.publicIps.size, 0.8)

    private def privateIp(): String = rng.nextInt(3) match {
      case 0 => s"10.${rng.nextInt(256)}.${rng.nextInt(256)}.${1 + rng.nextInt(254)}"
      case 1 => s"192.168.${rng.nextInt(256)}.${1 + rng.nextInt(254)}"
      case _ => s"172.${16 + rng.nextInt(16)}.${rng.nextInt(256)}.${1 + rng.nextInt(254)}"
    }

    private def record(eni: Eni, src: String, dst: String, dstport: Int,
        start: Long, action: String): Flow = {
      val packets = 1L + rng.nextInt(200)
      val bytes = packets * (40 + rng.nextInt(1460))
      val proto = if (dstport == 53) 17 else 6
      val status = rng.nextInt(20) match { case 0 => "NODATA"; case 1 => "SKIPDATA"; case _ => "OK" }
      val line = s"2 123456789012 ${eni.id} $src $dst ${1024 + rng.nextInt(64000)} " +
        s"$dstport $proto $packets $bytes $start ${start + 60} $action $status"
      val geoHit = !isPrivate(src) && w.geo.contains(src)
      Flow(line, ok = true, eni.id, src, dst, dstport, packets, bytes, start,
        action, eni.inDim, geoHit)
    }

    /** A line the parser must dead-letter. */
    private def malformed(): Flow = {
      val good = record(w.enis(eniZipf.next(rng)), privateIp(), privateIp(),
        443, BaseEpoch, "ACCEPT").line
      val bad = rng.nextInt(4) match {
        case 0 => s"MALFORMED ${rng.nextInt(1000000)}"
        case 1 => good.split(' ').dropRight(3).mkString(" ")
        case 2 => good.replace(" ACCEPT ", " DROP ")
        case _ => good.replaceFirst(" 443 ", " https ")
      }
      Flow(bad, ok = false, "", "", "", 0, 0, 0, 0, "", eniHit = false, geoHit = false)
    }

    private var scan: Iterator[Flow] = Iterator.empty

    def next(): Flow = {
      if (scan.hasNext) return scan.next()
      val u = rng.nextDouble()
      if (u < 0.02) malformed()
      else if (u < 0.025) {
        // A port scan: one public source sweeps ports on one ENI within
        // an hour, mostly rejected.
        val src = w.scanners(rng.nextInt(w.scanners.size))
        val eni = w.enis(eniZipf.next(rng))
        val t0 = BaseEpoch + rng.nextInt(Days * 86400 - 3600)
        val n = 5 + rng.nextInt(20)
        val burst = (0 until n).map(_ => record(eni, src, eni.ip,
          1 + rng.nextInt(10000), t0 + rng.nextInt(3600),
          if (rng.nextDouble() < 0.8) "REJECT" else "ACCEPT"))
        scan = burst.iterator
        scan.next()
      } else {
        val eni = w.enis(eniZipf.next(rng))
        val src = if (rng.nextDouble() < 1.0 / 3) w.publicIps(pubZipf.next(rng)) else privateIp()
        val dst = if (rng.nextBoolean()) eni.ip else privateIp()
        record(eni, src, dst, Ports(rng.nextInt(Ports.length)),
          BaseEpoch + rng.nextInt(Days * 86400),
          if (rng.nextDouble() < 0.8) "ACCEPT" else "REJECT")
      }
    }

    def take(n: Int): IndexedSeq[Flow] = IndexedSeq.fill(n)(next())
  }

  /** The decorator's RFC1918 + loopback gate, for ground truth. */
  def isPrivate(ip: String): Boolean =
    ip.matches("""^(10|127|192\.168|172\.(1[6-9]|2[0-9]|3[01]))\..*""")

  // ---- CloudWatch envelopes -------------------------------------------

  /** One landed file: its schedule slot and the flow records it carries. */
  final case class Envelope(seq: Int, json: String, kind: String,
      flows: IndexedSeq[Flow]) {
    def isData: Boolean = kind == "data"
    def lines: IndexedSeq[String] = flows.map(_.line)
  }

  private def gzip(s: String): Array[Byte] = {
    val bo = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bo)
    gz.write(s.getBytes("UTF-8"))
    gz.close()
    bo.toByteArray
  }

  private def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** `n` envelope files of `eventsPer` flow-log events each. Every 50th
    * is a subscription CONTROL_MESSAGE, every 97th carries a corrupt gzip
    * payload, and about 0.5% of events repeat an earlier event's line
    * (an at-least-once redelivery, so both share one content id). */
  def envelopes(w: World, seed: Long, n: Int, eventsPer: Int): IndexedSeq[Envelope] = {
    val rng = new Random(seed * 7 + 3)
    val flows = new FlowGen(w, seed * 13 + 5)
    val sent = mutable.ArrayBuffer.empty[Flow]
    (0 until n).map { seq =>
      val ts = (BaseEpoch + seq) * 1000
      def body(kind: String, events: Seq[String]): String = {
        val evs = events.zipWithIndex.map { case (m, i) =>
          s"""{"id":"$seq-$i","timestamp":${ts + i},"message":"${esc(m)}"}""" }
        s"""{"messageType":"$kind","owner":"123456789012","logGroup":"vpc-flow-logs",""" +
          s""""logStream":"stream-${seq % 8}","subscriptionFilters":["flows"],""" +
          s""""logEvents":[${evs.mkString(",")}]}"""
      }
      def file(bytes: Array[Byte]): String =
        s"""{"awslogs":{"data":"${Base64.getEncoder.encodeToString(bytes)}"}}"""
      if (seq % 50 == 0) {
        Envelope(seq, file(gzip(body("CONTROL_MESSAGE",
          Seq("CWL CONTROL MESSAGE: Checking health of destination stream.")))),
          "control", IndexedSeq.empty)
      } else {
        val fs = (0 until eventsPer).map { _ =>
          if (sent.nonEmpty && rng.nextDouble() < 0.005) sent(rng.nextInt(sent.size))
          else { val f = flows.next(); sent += f; f }
        }
        val gz = gzip(body("DATA_MESSAGE", fs.map(_.line)))
        if (seq % 97 == 41) {
          gz(0) = 0x00 // break the gzip magic: the payload must dead-letter
          Envelope(seq, file(gz), "corrupt", IndexedSeq.empty)
        } else Envelope(seq, file(gz), "data", fs)
      }
    }
  }

  // ---- embeddings and text ---------------------------------------------

  /** Clustered embeddings: each vector sits near one of `clusters` x
    * `sub` sub-centres, so every vector has a few clearly nearest
    * neighbours and recall is a meaningful figure. */
  final class Vectors(val dim: Int, centers: IndexedSeq[Array[Double]], seed: Long) {
    private val rng = new Random(seed)
    def next(): Array[Double] = {
      val c = centers(rng.nextInt(centers.size))
      Array.tabulate(dim)(i => math.rint((c(i) + 0.05 * rng.nextGaussian()) * 1e6) / 1e6)
    }
    def take(n: Int): IndexedSeq[Array[Double]] = IndexedSeq.fill(n)(next())
  }

  def vectors(seed: Long, dim: Int, clusters: Int, sub: Int): Vectors = {
    val rng = new Random(seed * 17 + 11)
    val centers = IndexedSeq.fill(clusters)(Array.fill(dim)(rng.nextGaussian()))
      .flatMap(c => IndexedSeq.fill(sub)(c.map(_ + 0.3 * rng.nextGaussian())))
    new Vectors(dim, centers, seed * 19 + 2)
  }

  final class Texts(seed: Long, vocab: Int) {
    private val rng = new Random(seed * 23 + 9)
    private val zipf = new Zipf(vocab, 1.05)
    val words: IndexedSeq[String] = (0 until vocab).map(i => "w" + Integer.toString(i, 36))
    /** Common two-word phrases that documents embed, so phrase queries hit. */
    val phrases: IndexedSeq[Seq[String]] =
      IndexedSeq.tabulate(40)(i => Seq(words(5 + i), words(60 + 3 * i)))
    /** 20 to 88 words, 54 on average, as the test data's documents. */
    def doc(): String = {
      val n = 20 + rng.nextInt(69)
      val ws = mutable.ArrayBuffer.fill(n)(words(zipf.next(rng)))
      if (rng.nextDouble() < 0.3) {
        val p = phrases(rng.nextInt(phrases.size))
        ws.insertAll(rng.nextInt(ws.size), p)
      }
      ws.mkString(" ")
    }
    def query(r: Random): Seq[String] =
      Seq.fill(2 + r.nextInt(2))(words(10 + r.nextInt(400))).distinct
  }
}
