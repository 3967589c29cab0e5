package ctbench

import java.io.ByteArrayOutputStream
import java.security.MessageDigest
import java.util.Base64
import scala.collection.mutable

/** Synthetic CT corpus with its own oracle.
  *
  * Certificates are hand-encoded minimal X.509 v3 DER: a TBSCertificate
  * with a subject CN and a SAN extension, the SubjectPublicKeyInfo and
  * signature algorithm of `graft.ct.DemoFixture`'s certificate, and random
  * signature bytes (nothing verifies signatures). Domains are drawn so that
  * each one's registrable ("base") domain is known by construction: a
  * Zipf-ranked label under a mix of real public suffixes, single- and
  * multi-label. The expected `(fingerprint, domain, base_domain)` rows come
  * from that construction — never from `CertParser` or `PublicSuffix`.
  */
object Corpus {

  /** One generated certificate: its DER, the lowercased distinct domain
    * set the parser must find, and each domain's base domain. */
  final case class Cert(der: Array[Byte], fingerprint: String,
      domains: Vector[String], base: Map[String, String])

  /** One log entry: the certificate it carries, or None for a leaf the
    * ingest must drop (non-X.509 leaf type or malformed DER). */
  final case class Entry(leafB64: String, cert: Option[Cert])

  final case class Shape(perLog: Int, bases: Int, logs: Int = 4,
      dupShare: Double = 0.10, badShare: Double = 0.05)

  /** Public suffixes by weight; co.uk, com.au, co.jp and com.br are
    * multi-label, so the registrable domain is three labels deep. */
  val suffixes: Vector[(String, Double)] = Vector(
    "com" -> 0.36, "net" -> 0.07, "org" -> 0.07, "io" -> 0.05, "de" -> 0.06,
    "co.uk" -> 0.08, "com.au" -> 0.05, "co.jp" -> 0.04, "com.br" -> 0.04,
    "fr" -> 0.04, "nl" -> 0.03, "dev" -> 0.03, "xyz" -> 0.02, "app" -> 0.02)

  private val hosts = Vector("www", "api", "mail", "cdn", "app", "shop", "static",
    "auth", "m", "blog", "dev", "vpn", "img", "portal", "status")

  // ---- DER encoding ----
  private def tlv(tag: Int, body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(tag)
    val n = body.length
    if (n < 0x80) out.write(n)
    else if (n < 0x100) { out.write(0x81); out.write(n) }
    else if (n < 0x10000) { out.write(0x82); out.write(n >> 8); out.write(n & 0xff) }
    else { out.write(0x83); out.write(n >> 16); out.write((n >> 8) & 0xff); out.write(n & 0xff) }
    out.write(body)
    out.toByteArray
  }
  private def cat(parts: Array[Byte]*): Array[Byte] = parts.flatten.toArray
  private def seq(parts: Array[Byte]*) = tlv(0x30, cat(parts: _*))
  private def ascii(s: String) = s.getBytes("US-ASCII")
  private def oid(bytes: Int*) = tlv(0x06, bytes.map(_.toByte).toArray)
  private def rdn(attr: Array[Byte], value: Array[Byte]) = tlv(0x31, seq(attr, value))
  private val cnOid = oid(0x55, 0x04, 0x03)
  private val oOid = oid(0x55, 0x04, 0x0a)
  private val cOid = oid(0x55, 0x04, 0x06)
  private val sanOid = oid(0x55, 0x1d, 0x11)

  /** Top-level TLV children of a DER SEQUENCE body. */
  private def children(der: Array[Byte], from: Int, to: Int): Vector[(Int, Int)] = {
    val out = Vector.newBuilder[(Int, Int)]
    var i = from
    while (i < to) {
      val start = i
      i += 1
      val l0 = der(i) & 0xff
      i += 1
      val len = if (l0 < 0x80) l0 else {
        var v = 0
        (0 until (l0 & 0x7f)).foreach { _ => v = (v << 8) | (der(i) & 0xff); i += 1 }
        v
      }
      i += len
      out += (start -> i)
    }
    out.result()
  }
  private def body(der: Array[Byte], span: (Int, Int)): (Int, Int) = {
    val l0 = der(span._1 + 1) & 0xff
    (span._1 + 2 + (if (l0 < 0x80) 0 else l0 & 0x7f), span._2)
  }

  /** SubjectPublicKeyInfo and AlgorithmIdentifier of the demo fixture. */
  private val (spki, sigAlg) = {
    val d = graft.ct.DemoFixture.certDer
    val top = children(d, 0, d.length)
    val (cb, ce) = body(d, top(0))
    val cert = children(d, cb, ce)
    val (tb, te) = body(d, cert(0))
    val tbs = children(d, tb, te)
    def slice(s: (Int, Int)) = java.util.Arrays.copyOfRange(d, s._1, s._2)
    (slice(tbs(6)), slice(cert(1))) // [0]version, serial, sig, issuer, validity, subject, spki
  }

  private def utcTime(epochSec: Long): Array[Byte] = {
    val f = java.time.format.DateTimeFormatter.ofPattern("yyMMddHHmmss'Z'")
      .withZone(java.time.ZoneOffset.UTC)
    tlv(0x17, ascii(f.format(java.time.Instant.ofEpochSecond(epochSec))))
  }

  /** DER of a v3 certificate with subject CN `cn` and SAN dNSNames `sans`. */
  def certDer(rnd: java.util.Random, issuer: Int, cn: String, sans: Seq[String]): Array[Byte] = {
    val serial = new Array[Byte](9)
    rnd.nextBytes(serial); serial(0) = 0x01
    val notBefore = 1704067200L + rnd.nextInt(400 * 86400)
    val issuerName = seq(rdn(cOid, tlv(0x13, ascii("US"))),
      rdn(oOid, tlv(0x0c, ascii("Bench Trust"))),
      rdn(cnOid, tlv(0x0c, ascii(s"Bench CA $issuer"))))
    val subject = seq(rdn(cnOid, tlv(0x0c, ascii(cn))))
    val san = seq(sanOid, tlv(0x04, seq(sans.map(s => tlv(0x82, ascii(s))): _*)))
    val tbs = seq(
      tlv(0xa0, tlv(0x02, Array(2.toByte))),
      tlv(0x02, serial), sigAlg, issuerName,
      seq(utcTime(notBefore), utcTime(notBefore + 90L * 86400)),
      subject, spki, tlv(0xa3, seq(san)))
    val sig = new Array[Byte](257)
    rnd.nextBytes(sig); sig(0) = 0
    seq(tbs, sigAlg, tlv(0x03, sig))
  }

  def sha256Hex(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"${x & 0xff}%02x").mkString

  /** CT Merkle leaf: byte 0 leaf type, 11 header bytes, 3-byte length, DER. */
  def leaf(der: Array[Byte], leafType: Int): Array[Byte] = {
    val n = der.length
    cat(Array(leafType.toByte), new Array[Byte](11),
      Array((n >> 16).toByte, (n >> 8).toByte, n.toByte), der)
  }

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val t = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / t)
    }
    def sample(r: java.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private def pick[A](r: java.util.Random, xs: Vector[(A, Double)]): A = {
    var u = r.nextDouble() * xs.map(_._2).sum
    xs.find { case (_, w) => u -= w; u < 0 }.getOrElse(xs.last)._1
  }

  /** SAN counts skewed toward small, up to 20. */
  private def sanCount(r: java.util.Random): Int = {
    val u = r.nextDouble()
    if (u < 0.35) 1 else if (u < 0.60) 2 else if (u < 0.75) 3
    else if (u < 0.87) 4 + r.nextInt(2) else if (u < 0.96) 6 + r.nextInt(5)
    else 11 + r.nextInt(10)
  }

  /** Registrable domains, rank order = popularity order. Labels carry the
    * rank so they are distinct and never collide with a listed suffix. */
  def bases(seed: Long, n: Int): Vector[String] = {
    val r = new java.util.Random(seed ^ 0x5eedL)
    val syll = Vector("ka", "lo", "mi", "ne", "tu", "ra", "vo", "si", "de", "po", "zu", "be")
    Vector.tabulate(n) { i =>
      val word = (0 until 2 + r.nextInt(2)).map(_ => syll(r.nextInt(syll.size))).mkString
      s"$word${i}q.${pick(r, suffixes)}"
    }
  }

  /** Per-log entry lists of exactly `perLog` entries each. Certificates
    * are spread over the logs, a `dupShare` of them is logged in a second
    * log too, and a `badShare` of entries is a precert-type leaf or
    * malformed DER. */
  def generate(seed: Long, shape: Shape): (Vector[Vector[Entry]], Vector[Cert]) = {
    val r = new java.util.Random(seed)
    val baseNames = bases(seed, shape.bases)
    val zb = new Zipf(shape.bases, 1.05)
    val zh = new Zipf(hosts.size, 0.9)
    val enc = Base64.getEncoder
    val logs = Vector.fill(shape.logs)(mutable.ArrayBuffer.empty[Entry])
    def open = logs.indices.filter(logs(_).size < shape.perLog)
    val certs = Vector.newBuilder[Cert]
    var i = 0
    while (open.nonEmpty) {
      i += 1
      val log = open(r.nextInt(open.size))
      if (r.nextDouble() < shape.badShare) {
        val der = certDer(r, i % 7, "bad.example", Seq("bad.example"))
        val bytes =
          if (r.nextBoolean()) leaf(der, 1) // precert entry: not admitted
          else { // truncated DER behind a well-formed leaf header
            val cut = java.util.Arrays.copyOf(der, der.length / 2)
            leaf(cut, 0)
          }
        logs(log) += Entry(enc.encodeToString(bytes), None)
      } else {
        val main = baseNames(zb.sample(r))
        val names = (0 until sanCount(r)).map { k =>
          val b = if (k > 0 && r.nextDouble() < 0.1) baseNames(zb.sample(r)) else main
          val host = r.nextDouble() match {
            case u if u < 0.25 => ""
            case u if u < 0.35 => "*."
            case u if u < 0.85 => hosts(zh.sample(r)) + "."
            case _ => s"${hosts(r.nextInt(hosts.size))}.n${r.nextInt(50)}.${hosts(zh.sample(r))}."
          }
          (host + b, b)
        }
        val sans = names.map(_._1).distinct
        // the subject CN repeats the first SAN, sometimes in upper case
        val cn = if (r.nextDouble() < 0.2) sans.head.toUpperCase else sans.head
        val der = certDer(r, i % 7, cn, sans.map(s => if (r.nextDouble() < 0.05) s.toUpperCase else s))
        val domains = sans.map(_.toLowerCase).distinct.sorted.toVector
        val cert = Cert(der, sha256Hex(der), domains, names.map { case (d, b) => d.toLowerCase -> b }.toMap)
        certs += cert
        val e = Entry(enc.encodeToString(leaf(der, 0)), Some(cert))
        logs(log) += e
        val others = open.filter(_ != log)
        if (others.nonEmpty && r.nextDouble() < shape.dupShare) logs(others(r.nextInt(others.size))) += e
      }
    }
    (logs.map(_.toVector), certs.result())
  }

  /** The oracle's store key set: distinct (fingerprint, domain, base_domain). */
  def keys(certs: Iterable[Cert]): Set[(String, String, String)] =
    certs.iterator.flatMap(c => c.domains.map(d => (c.fingerprint, d, c.base(d)))).toSet
}
