package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sim.VecCore
import graft.text.TextCore

/** Catalyst-internal shims for text sketching + vector math (same pattern as
  * GeoInternal: internal types in/out, zero SerDe, codegen-capable). */
object TextInternal {
  def minhash(text: UTF8String, shingleN: Int, perms: Int): ArrayData =
    new GenericArrayData(TextCore.minhash(if (text == null) "" else text.toString, shingleN, perms))

  def wordNgrams(text: UTF8String, n: Int): ArrayData = {
    val grams = TextCore.wordNgrams(if (text == null) "" else text.toString, n)
    new GenericArrayData(grams.map(UTF8String.fromString(_)))
  }

  def windowNgrams(text: UTF8String, n: Int): ArrayData = {
    val wins = TextCore.windowNgrams(if (text == null) "" else text.toString, n)
    new GenericArrayData(wins.map(UTF8String.fromString(_)))
  }

  def bandHashes(sig: ArrayData, bands: Int): ArrayData =
    new GenericArrayData(TextCore.bandHashes(sig.toLongArray(), bands))

  def sigOverlap(a: ArrayData, b: ArrayData): Double =
    TextCore.sigOverlap(a.toLongArray(), b.toLongArray())

  def simhash(text: UTF8String): Long =
    TextCore.simhash(if (text == null) "" else text.toString)

  def bpeCharSeq(w: UTF8String): UTF8String =
    UTF8String.fromString(TextCore.bpeCharSeq(if (w == null) "" else w.toString))

  def htmlText(html: Array[Byte]): UTF8String =
    UTF8String.fromString(graft.etl.HtmlText.extractBytes(html))

  def resolveUrl(base: UTF8String, href: UTF8String): UTF8String =
    // StaticInvoke propagates null inputs, so these guards are defensive
    // symmetry for any future non-propagating call path
    UTF8String.fromString(graft.etl.Links.resolveUrl(
      if (base == null) "" else base.toString,
      if (href == null) "" else href.toString))

  def spacePairs(seq: UTF8String): ArrayData = {
    val pairs = TextCore.spacePairs(if (seq == null) "" else seq.toString)
    new GenericArrayData(pairs.map(UTF8String.fromString(_)))
  }

  def hamming(a: Long, b: Long): Int = TextCore.hamming(a, b)

  /** Unicode NFC normalization (canonical decomposition + composition) via
    * the JDK's Normalizer — the same algorithm (UAX #15) DuckDB's
    * `nfc_normalize` implements through utf8proc, so normalized strings
    * agree byte-for-byte across engines. */
  def nfc(s: UTF8String): UTF8String =
    UTF8String.fromString(java.text.Normalizer.normalize(
      if (s == null) "" else s.toString, java.text.Normalizer.Form.NFC))

  def jaccard(a: UTF8String, b: UTF8String, shingleN: Int): Double =
    TextCore.jaccard(a.toString, b.toString, shingleN)

  def containment(a: UTF8String, b: UTF8String, shingleN: Int): Double =
    TextCore.containment(a.toString, b.toString, shingleN)

  def winnow(text: UTF8String, k: Int, w: Int): Long =
    TextCore.winnowFingerprint(if (text == null) "" else text.toString, k, w)

  def portableWinnow(text: UTF8String, k: Int, w: Int): Long =
    TextCore.portableWinnow(if (text == null) "" else text.toString, k, w)

  def dot(a: ArrayData, b: ArrayData): Double =
    VecCore.dot(a.toFloatArray(), b.toFloatArray())

  def cosine(a: ArrayData, b: ArrayData): Double =
    VecCore.cosine(a.toFloatArray(), b.toFloatArray())

  def vnorm(a: ArrayData): Double = VecCore.norm(a.toFloatArray())

  def vecMaxAbs(a: ArrayData): Double = VecCore.maxAbs(a.toFloatArray())

  def int8Pack(a: ArrayData): Array[Byte] = VecCore.int8Pack(a.toFloatArray())

  def int8Dot(a: Array[Byte], b: Array[Byte]): Long = VecCore.int8Dot(a, b)

  def scaleLongs(a: ArrayData, scale: Double): ArrayData =
    new GenericArrayData(VecCore.scaleLongs(a.toFloatArray(), scale))

  def longSqDist(a: ArrayData, b: ArrayData): Long =
    VecCore.longSqDist(a.toLongArray(), b.toLongArray())

  def longDot(a: ArrayData, b: ArrayData): Long =
    VecCore.longDot(a.toLongArray(), b.toLongArray())

  def int8PackScaled(a: ArrayData, scale: Double): Array[Byte] =
    VecCore.int8PackScaled(a.toFloatArray(), scale)

  def pqEncode(code: Array[Byte], books: Array[Byte], m: Int, ks: Int): Array[Byte] =
    VecCore.pqEncode(code, books, m, ks)

  def pqLut(qcode: Array[Byte], books: Array[Byte], m: Int, ks: Int): ArrayData =
    new GenericArrayData(VecCore.pqLut(qcode, books, m, ks))

  def pqAdc(lut: ArrayData, codes: Array[Byte], ks: Int): Long =
    VecCore.pqAdc(lut.toLongArray(), codes, ks)

  def lshSig(v: ArrayData, bits: Int): Int =
    VecCore.lshSignature(v.toFloatArray(), bits)

  def lshSigBand(v: ArrayData, bits: Int, band: Int): Int =
    VecCore.lshSignatureBand(v.toFloatArray(), bits, band)

  def multiProbe(sig: Int, bits: Int): ArrayData =
    new GenericArrayData(VecCore.multiProbe(sig, bits))

  def multiProbeLong(key: Long, bits: Int): ArrayData =
    new GenericArrayData(VecCore.multiProbeLong(key, bits))

  def nearestCentroid(v: ArrayData, flat: ArrayData): Int =
    VecCore.nearestCentroid(v.toFloatArray(), flat.toFloatArray())

  def portableKeys(v: ArrayData, flat: ArrayData, bits: Int, bands: Int): ArrayData =
    new GenericArrayData(VecCore.portableKeys(v.toFloatArray(), flat.toDoubleArray(), bits, bands))

  def nearestCentroids(v: ArrayData, flat: ArrayData, nprobe: Int): ArrayData =
    new GenericArrayData(VecCore.nearestCentroids(v.toFloatArray(), flat.toFloatArray(), nprobe))

  /** Magic-byte mime sniff for opaque binary payloads (multimodal columns). */
  def mimeSniff(bytes: Array[Byte]): UTF8String = {
    def at(i: Int, v: Int) = bytes.length > i && (bytes(i) & 0xff) == v
    val mime =
      if (bytes.length >= 3 && at(0, 0xff) && at(1, 0xd8) && at(2, 0xff)) "image/jpeg"
      else if (bytes.length >= 4 && at(0, 0x89) && at(1, 'P') && at(2, 'N') && at(3, 'G')) "image/png"
      else if (bytes.length >= 3 && at(0, 'G') && at(1, 'I') && at(2, 'F')) "image/gif"
      else if (bytes.length >= 4 && at(0, 'R') && at(1, 'I') && at(2, 'F') && at(3, 'F')) "audio/wav"
      else if (bytes.length >= 8 && at(4, 'f') && at(5, 't') && at(6, 'y') && at(7, 'p')) "video/mp4"
      else if (bytes.length >= 1 && at(0, '<')) "text/html"
      else "application/octet-stream"
    UTF8String.fromString(mime)
  }

  /** Portable pseudo-features: f_i = sha60(hex(sha256(bytes)) ':' i) / 2^60
    * - 0.5 — every value independently recomputable by an ANSI oracle (see
    * Multimodal.withPortableFeatures). */
  def portableFeatures(bytes: Array[Byte], dim: Int): ArrayData = {
    val hex = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"$b%02x").mkString
    val out = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest((hex + ":" + i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L
      var j = 0
      while (j < 8) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
      out(i) = (v >>> 4).toDouble / 1152921504606846976.0 - 0.5
      i += 1
    }
    new GenericArrayData(out)
  }

  /** STUB decoder (documented): a real deployment calls an image/audio codec
    * here; this container has none, so emit a deterministic fake feature
    * vector seeded by content bytes — the Spark-side plumbing (schema, batch
    * shape, partitioning) is real and tested, the codec call is the only
    * substitution. */
  def fakeEmbed(bytes: Array[Byte], dim: Int): ArrayData = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) { h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L; i += 1 }
    val out = new Array[Float](dim)
    i = 0
    while (i < dim) {
      out(i) = ((TextCore.mix(h + i) >>> 11).toDouble / (1L << 53).toDouble).toFloat - 0.5f
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Column API for text sketches + vector similarity. */
object TextFunctions {
  import org.apache.spark.sql.GraftBridge.{column => col_, expression => ex}

  private val cls = TextInternal.getClass

  private def invoke(dt: DataType, name: String, args: Column*): Column =
    col_(StaticInvoke(cls, dt, name, args.map(ex), returnNullable = false))

  /** First 60 bits of sha256(s) as a Long — THE portable cross-engine hash:
    * DuckDB recomputes it as a base-16 fold over the hex digest
    * (contract.ContractFixtures.sha60Sql). Every portable-oracle path (sketch families,
    * lineage checksums) must route through this single definition. */
  def sha60(s: Column): Column =
    org.apache.spark.sql.functions.conv(
      org.apache.spark.sql.functions.substring(
        org.apache.spark.sql.functions.sha2(s, 256), 1, 15), 16, 10).cast("long")

  def minhash(text: Column, shingleN: Column, perms: Column): Column =
    invoke(ArrayType(LongType, containsNull = false), "minhash", text, shingleN, perms)

  def wordNgrams(text: Column, n: Column): Column =
    invoke(ArrayType(StringType, containsNull = false), "wordNgrams", text, n)

  def windowNgrams(text: Column, n: Column): Column =
    invoke(ArrayType(StringType, containsNull = false), "windowNgrams", text, n)

  def bandHashes(sig: Column, bands: Column): Column =
    invoke(ArrayType(LongType, containsNull = false), "bandHashes", sig, bands)

  def sigOverlap(a: Column, b: Column): Column = invoke(DoubleType, "sigOverlap", a, b)
  def simhash(text: Column): Column = invoke(LongType, "simhash", text)

  /** NFC-normalize a string column (codegen StaticInvoke, no SerDe). */
  def nfcNorm(text: Column): Column = invoke(StringType, "nfc", text)
  def bpeCharSeq(w: Column): Column = invoke(StringType, "bpeCharSeq", w)
  /** HTML (binary, UTF-8) -> clean text via the fixed HtmlText rule chain. */
  def htmlText(html: Column): Column = invoke(StringType, "htmlText", html)
  /** RFC 3986 reference resolution of href against an absolute base URL. */
  def resolveUrl(base: Column, href: Column): Column =
    invoke(StringType, "resolveUrl", base, href)
  def spacePairs(seq: Column): Column =
    invoke(ArrayType(StringType, containsNull = false), "spacePairs", seq)
  def hamming(a: Column, b: Column): Column = invoke(IntegerType, "hamming", a, b)
  def jaccard(a: Column, b: Column, shingleN: Column): Column =
    invoke(DoubleType, "jaccard", a, b, shingleN)
  def containment(a: Column, b: Column, shingleN: Column): Column =
    invoke(DoubleType, "containment", a, b, shingleN)
  def winnow(text: Column, k: Column, w: Column): Column =
    invoke(LongType, "winnow", text, k, w)
  def portableWinnow(text: Column, k: Column, w: Column): Column =
    invoke(LongType, "portableWinnow", text, k, w)

  def dot(a: Column, b: Column): Column = invoke(DoubleType, "dot", a, b)
  def cosine(a: Column, b: Column): Column = invoke(DoubleType, "cosine", a, b)
  def vnorm(a: Column): Column = invoke(DoubleType, "vnorm", a)
  def vecMaxAbs(a: Column): Column = invoke(DoubleType, "vecMaxAbs", a)
  def int8Pack(a: Column): Column = invoke(BinaryType, "int8Pack", a)
  def int8Dot(a: Column, b: Column): Column = invoke(LongType, "int8Dot", a, b)

  def scaleLongs(a: Column, scale: Column): Column =
    invoke(ArrayType(LongType, containsNull = false), "scaleLongs", a, scale)

  def longSqDist(a: Column, b: Column): Column =
    invoke(LongType, "longSqDist", a, b)
  def longDot(a: Column, b: Column): Column =
    invoke(LongType, "longDot", a, b)
  def int8PackScaled(a: Column, scale: Column): Column =
    invoke(BinaryType, "int8PackScaled", a, scale)
  def pqEncode(code: Column, books: Column, m: Column, ks: Column): Column =
    invoke(BinaryType, "pqEncode", code, books, m, ks)
  def pqLut(qcode: Column, books: Column, m: Column, ks: Column): Column =
    invoke(ArrayType(LongType, containsNull = false), "pqLut", qcode, books, m, ks)
  def pqAdc(lut: Column, codes: Column, ks: Column): Column =
    invoke(LongType, "pqAdc", lut, codes, ks)
  def lshSig(v: Column, bits: Column): Column = invoke(IntegerType, "lshSig", v, bits)
  def lshSigBand(v: Column, bits: Column, band: Column): Column =
    invoke(IntegerType, "lshSigBand", v, bits, band)
  def multiProbe(sig: Column, bits: Column): Column =
    invoke(ArrayType(IntegerType, containsNull = false), "multiProbe", sig, bits)
  def multiProbeLong(key: Column, bits: Column): Column =
    invoke(ArrayType(LongType, containsNull = false), "multiProbeLong", key, bits)
  def nearestCentroid(v: Column, flat: Column): Column =
    invoke(IntegerType, "nearestCentroid", v, flat)
  def portableKeys(v: Column, flat: Column, bits: Column, bands: Column): Column =
    invoke(ArrayType(LongType, containsNull = false), "portableKeys", v, flat, bits, bands)
  def nearestCentroids(v: Column, flat: Column, nprobe: Column): Column =
    invoke(ArrayType(IntegerType, containsNull = false), "nearestCentroids", v, flat, nprobe)

  def mimeSniff(bytes: Column): Column = invoke(StringType, "mimeSniff", bytes)
  def portableFeatures(bytes: Column, dim: Column): Column =
    invoke(ArrayType(DoubleType, containsNull = false), "portableFeatures", bytes, dim)
  def fakeEmbed(bytes: Column, dim: Column): Column =
    invoke(ArrayType(FloatType, containsNull = false), "fakeEmbed", bytes, dim)
}
