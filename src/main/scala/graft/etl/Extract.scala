package graft.etl

import java.util.regex.Pattern

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Mention

/** Text normalization shared by extraction and the forward join key:
  * lowercase, NFD diacritic fold, punctuation -> space, collapse whitespace.
  * Deterministic and locale-independent (Locale.ROOT). */
object Norm extends Serializable {
  private val Combining = Pattern.compile("\\p{M}+")

  /** Diacritic fold for non-ASCII text (slow path only). */
  private def fold(s: String): String =
    Combining.matcher(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFD)
    ).replaceAll("")

  /** Single-pass tokenizer: lowercase + diacritic-fold + split on non-alnum.
    * String-input path (query verbs, non-ASCII pages); the crawl hot path is
    * the byte-level scan in Extract.extractAllBytes, which must produce the
    * same token hashes for pure-ASCII text (asserted by ExtractParitySpec). */
  def tokens(s: String): Array[String] = {
    var ascii = true
    var i = 0
    while (ascii && i < s.length) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    val src = if (ascii) s else fold(s)
    val out = new scala.collection.mutable.ArrayBuffer[String](16)
    val buf = new java.lang.StringBuilder(24)
    i = 0
    while (i < src.length) {
      val c = src.charAt(i)
      val isWord =
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
          (c >= 'A' && c <= 'Z') || (c >= 0x80 && Character.isLetterOrDigit(c))
      if (isWord) buf.append(Character.toLowerCase(c))
      else if (buf.length > 0) { out += buf.toString; buf.setLength(0) }
      i += 1
    }
    if (buf.length > 0) out += buf.toString
    out.toArray
  }

  def normalize(s: String): String = String.join(" ", tokens(s): _*)
}

/**
 * Multi-pattern dictionary scanner over normalized text (Aho-Corasick-style
 * role, implemented as a token-trie with longest-match-first semantics —
 * SURVEY.md §2.7 E2). Built once on the driver from gazetteer name keys,
 * broadcast to executors; match cost is O(tokens * max-key-depth) per page.
 *
 * The trie is keyed by 64-bit FNV-1a token hashes, NOT token strings — the
 * byte-level extraction path never materializes a String per token (the
 * dominant allocation on a string-bound crawl workload). A 64-bit collision
 * between a page token and a dictionary token would cause a spurious match;
 * at ~10^6 dictionary tokens the birthday bound puts that at ~10^-7 per
 * corpus, and the emitted key is always the terminal's stored string, never
 * page text. Serializable so it can live inside a Broadcast.
 */
final class DictScanner(keys: Array[String]) extends Serializable {
  /** Only `keys` is serialized (compact); the trie rebuilds lazily once per
    * deserialized instance (per executor). Shipping the built trie would
    * Java-serialize one HashMap per node — seconds per broadcast at
    * production dictionary sizes. */
  @transient private lazy val trie: (java.util.ArrayList[java.util.HashMap[java.lang.Long, Integer]],
      java.util.ArrayList[String]) = {
    val children = new java.util.ArrayList[java.util.HashMap[java.lang.Long, Integer]]()
    val terminal = new java.util.ArrayList[String]()
    children.add(new java.util.HashMap[java.lang.Long, Integer]())
    terminal.add(null)
    keys.foreach { key =>
      var node = 0
      key.split(' ').foreach { tok =>
        val h = java.lang.Long.valueOf(graft.text.TextCore.fnv64(tok))
        val m = children.get(node)
        var next = m.get(h)
        if (next == null) {
          children.add(new java.util.HashMap[java.lang.Long, Integer]())
          terminal.add(null)
          next = children.size - 1
          m.put(h, next)
        }
        node = next
      }
      terminal.set(node, key)
    }
    (children, terminal)
  }
  private def children = trie._1
  private def terminal = trie._2

  /** Open-addressed set of root-token hashes: rejects the ~95% of page
    * tokens that start no dictionary key in ~1 cache miss, before paying the
    * (boxed, multi-miss) HashMap probe. False positives just fall through to
    * the map. */
  @transient private lazy val rootFilter: Array[Long] = {
    val rootKeys = children.get(0).keySet()
    var cap = 16
    while (cap < rootKeys.size * 4) cap <<= 1
    val t = new Array[Long](cap)
    val it = rootKeys.iterator()
    while (it.hasNext) {
      var h = it.next().longValue()
      if (h == 0L) h = 1L
      var slot = (h & (cap - 1)).toInt
      while (t(slot) != 0L && t(slot) != h) slot = (slot + 1) & (cap - 1)
      t(slot) = h
    }
    t
  }

  @inline private def mayStartKey(h0: Long): Boolean = {
    val t = rootFilter
    var h = h0
    if (h == 0L) h = 1L
    val mask = t.length - 1
    var slot = (h & mask).toInt
    while (t(slot) != 0L) {
      if (t(slot) == h) return true
      slot = (slot + 1) & mask
    }
    false
  }

  /** Longest dictionary match starting at each token position; matched spans
    * don't overlap (scan resumes after a match — deterministic). */
  def scan(normText: String): Array[String] = scanTokens(normText.split(' '))

  def scanTokens(toks: Array[String]): Array[String] = {
    if (toks.isEmpty) return Array.empty
    val hs = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) { hs(i) = graft.text.TextCore.fnv64(toks(i)); i += 1 }
    scanHashes(hs, hs.length)
  }

  /** Hash-input scan — the byte-level hot path (no per-token Strings). */
  def scanHashes(hs: Array[Long], nTok: Int): Array[String] = {
    if (nTok == 0) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < nTok) {
      if (!mayStartKey(hs(i))) i += 1
      else {
        var node = 0
        var j = i
        var best: String = null
        var bestEnd = i
        var continue = true
        while (continue && j < nTok) {
          val next = children.get(node).get(hs(j))
          if (next != null) {
            node = next
            j += 1
            val t = terminal.get(node)
            if (t != null) { best = t; bestEnd = j }
          } else continue = false
        }
        if (best != null) { out += best; i = bestEnd } else i += 1
      }
    }
    out.toArray
  }
}

/**
 * E2 — deterministic mention + coordinate-literal extraction.
 *
 * Three candidate kinds per page text:
 *  - "coord": decimal lat-lon literals like "41.40139, 2.12870" (written
 *    lat-first in prose, the order OpenCage reverse queries use —
 *    /root/reference/src/opencage.rs:340-345); emitted as (lon, lat) per the
 *    engine-wide lon-lat invariant (/root/reference/src/lib.rs:12-16).
 *  - "coord" from DMS literals like "41° 24' 5.06'' N 2° 7' 43.3'' E" (the
 *    OpenCage DMS annotation format, /root/reference/src/opencage.rs:442-445;
 *    SURVEY.md §2.7 E2 "lat-lon literals ... DMS").
 *  - "name": gazetteer place-name mentions via broadcast DictScanner.
 *
 * The page `text` itself is never transcoded — the byte-identity invariant is
 * carried as sha256(text) alongside every extraction output (input_hint).
 *
 * Hot path: pure-ASCII pages (the overwhelming crawl majority) are scanned
 * at the BYTE level — no String materialization, no per-token allocation;
 * token FNV hashes feed the hash-keyed trie directly. Non-ASCII pages fall
 * back to the string path (diacritic folding needs real decoding). The two
 * paths are asserted equivalent on ASCII input by ExtractParitySpec.
 */
object Extract {

  /** lat, lon decimal pair: needs >=3 decimals to avoid matching prose numbers. */
  private val CoordRe = Pattern.compile(
    "(-?\\d{1,2}\\.\\d{3,}),\\s*(-?\\d{1,3}\\.\\d{3,})")

  /** DMS pair, lat-hemisphere first (the prose order the reference's DMS
    * annotation uses): 41° 24' 5.06'' N 2° 7' 43.3'' E */
  private val DmsRe = Pattern.compile(
    "(\\d{1,2})°\\s*(\\d{1,2})'\\s*(\\d{1,2}(?:\\.\\d+)?)''\\s*([NS])[,;\\s]+" +
    "(\\d{1,3})°\\s*(\\d{1,2})'\\s*(\\d{1,2}(?:\\.\\d+)?)''\\s*([EW])")

  def extractCoords(text: String): Array[Mention] = {
    val m = CoordRe.matcher(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[Mention]
    while (m.find()) {
      val lat = java.lang.Double.parseDouble(m.group(1))
      val lon = java.lang.Double.parseDouble(m.group(2))
      if (math.abs(lat) <= 90.0 && math.abs(lon) <= 180.0)
        out += Mention("coord", m.group(0), null, lon, lat)
    }
    out.toArray
  }

  /** DMS literal extraction: degrees + minutes/60 + seconds/3600, negated
    * for S/W. Only called when the text contains '°' (cheap pre-check). */
  def extractDms(text: String): Array[Mention] = {
    val m = DmsRe.matcher(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[Mention]
    while (m.find()) {
      def v(d: String, mi: String, se: String): Double =
        d.toDouble + mi.toDouble / 60.0 + java.lang.Double.parseDouble(se) / 3600.0
      val lat = v(m.group(1), m.group(2), m.group(3)) *
        (if (m.group(4) == "S") -1.0 else 1.0)
      val lon = v(m.group(5), m.group(6), m.group(7)) *
        (if (m.group(8) == "W") -1.0 else 1.0)
      if (math.abs(lat) <= 90.0 && math.abs(lon) <= 180.0)
        out += Mention("coord", m.group(0), null, lon, lat)
    }
    out.toArray
  }

  /** String-input extraction (non-ASCII pages, query strings, tests). */
  def extractAll(text: String, scanner: DictScanner): Array[Mention] = {
    val coords = extractCoords(text)
    val dms = if (text.indexOf('°') >= 0) extractDms(text) else Array.empty[Mention]
    val names = scanner.scanTokens(Norm.tokens(text))
      .map(k => Mention("name", k, k, null, null))
    coords ++ dms ++ names
  }

  // ---- byte-level hot path ---------------------------------------------------

  @inline private def isDigit(b: Int): Boolean = b >= '0' && b <= '9'
  @inline private def isWs(b: Int): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** Replicates CoordRe's match at position `i`: optional '-', 1..maxInt
    * digits, '.', >=3 digits. Returns end index (exclusive) or -1. Digits are
    * contiguous, so the regex's int-width backtracking reduces to "the digit
    * run before '.' must be 1..maxInt long". */
  private def numEnd(bytes: Array[Byte], i: Int, n: Int, maxInt: Int): Int = {
    var p = i
    if (p < n && bytes(p) == '-') p += 1
    val d0 = p
    while (p < n && isDigit(bytes(p) & 0xff)) p += 1
    val intLen = p - d0
    if (intLen < 1 || intLen > maxInt) return -1
    if (p >= n || bytes(p) != '.') return -1
    p += 1
    val f0 = p
    while (p < n && isDigit(bytes(p) & 0xff)) p += 1
    if (p - f0 < 3) -1 else p
  }

  /** Byte-level scan for decimal lat-lon literals over bytes[off, end) —
    * exact semantics of CoordRe.find() over the same ASCII bytes. */
  def scanCoordBytes(bytes: Array[Byte], off: Int, end: Int,
                     out: scala.collection.mutable.ArrayBuffer[Mention]): Unit = {
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val n = end
    var i = off
    while (i < n) {
      val b = bytes(i) & 0xff
      var end = -1
      var latEnd = -1
      var mid = -1
      if (b == '-' || isDigit(b)) {
        val e1 = numEnd(bytes, i, n, 2)
        if (e1 >= 0 && e1 < n && bytes(e1) == ',') {
          var p = e1 + 1
          while (p < n && isWs(bytes(p) & 0xff)) p += 1
          val e2 = numEnd(bytes, p, n, 3)
          if (e2 >= 0) { latEnd = e1; mid = p; end = e2 }
        }
      }
      if (end >= 0) {
        val lat = java.lang.Double.parseDouble(new String(bytes, i, latEnd - i, ascii))
        val lon = java.lang.Double.parseDouble(new String(bytes, mid, end - mid, ascii))
        if (math.abs(lat) <= 90.0 && math.abs(lon) <= 180.0)
          out += Mention("coord", new String(bytes, i, end - i, ascii), null, lon, lat)
        i = end
      } else i += 1
    }
  }

  private final val FnvInit = 0xcbf29ce484222325L
  private final val FnvPrime = 0x100000001b3L

  /** Byte-level tokenize (lowercase a-z0-9 runs) + hash-trie name scan.
    * Produces exactly the matches of scanner.scanTokens(Norm.tokens(text))
    * for pure-ASCII text: ASCII lowercase bytes ARE the UTF-8 bytes TextCore
    * .fnv64 hashes, so the per-token hashes agree with the string path. */
  def scanNamesAscii(bytes: Array[Byte], off: Int, end: Int, scanner: DictScanner,
                     out: scala.collection.mutable.ArrayBuffer[Mention]): Unit = {
    val n = end
    var hashes = new Array[Long](math.max(16, (end - off) / 6))
    var nTok = 0
    var h = FnvInit
    var inTok = false
    var i = off
    while (i <= n) {
      val c = if (i < n) bytes(i) & 0xff else ' '
      val lower = if (c >= 'A' && c <= 'Z') c + 32 else c
      if ((lower >= 'a' && lower <= 'z') || (lower >= '0' && lower <= '9')) {
        h = (h ^ lower) * FnvPrime
        inTok = true
      } else if (inTok) {
        if (nTok == hashes.length) hashes = java.util.Arrays.copyOf(hashes, nTok * 2)
        hashes(nTok) = h
        nTok += 1
        h = FnvInit
        inTok = false
      }
      i += 1
    }
    val keys = scanner.scanHashes(hashes, nTok)
    var k = 0
    while (k < keys.length) {
      out += Mention("name", keys(k), keys(k), null, null)
      k += 1
    }
  }

  /** Byte-input extraction — the per-page hot path. Pure-ASCII bytes never
    * materialize the page as a String (callers can pass the UnsafeRow's
    * backing array + offset directly — zero copies of page text); non-ASCII
    * pages (which may need diacritic folding and can carry DMS '°' literals)
    * decode once and take the string path. */
  def extractAllBytes(bytes: Array[Byte], scanner: DictScanner): Array[Mention] =
    extractAllBytes(bytes, 0, bytes.length, scanner)

  def extractAllBytes(bytes: Array[Byte], off: Int, len: Int,
                      scanner: DictScanner): Array[Mention] = {
    val end = off + len
    var ascii = true
    var i = off
    while (ascii && i < end) { if (bytes(i) < 0) ascii = false; i += 1 }
    if (!ascii)
      extractAll(new String(bytes, off, len, java.nio.charset.StandardCharsets.UTF_8), scanner)
    else {
      val out = new scala.collection.mutable.ArrayBuffer[Mention](8)
      scanCoordBytes(bytes, off, end, out)
      scanNamesAscii(bytes, off, end, scanner, out)
      out.toArray
    }
  }

  // one broadcast per scanner instance per JVM — repeated pipeline runs must
  // not re-serialize/re-ship the dictionary
  private val bcCache =
    new java.util.WeakHashMap[DictScanner, Broadcast[DictScanner]]()

  private def broadcastOnce(spark: SparkSession, scanner: DictScanner): Broadcast[DictScanner] =
    bcCache.synchronized {
      var bc = bcCache.get(scanner)
      if (bc == null) {
        bc = spark.sparkContext.broadcast(scanner)
        bcCache.put(scanner, bc)
      }
      bc
    }

  /**
   * pages -> one row per extracted mention:
   * (url, warc_ts, lang, text_sha256, kind, surface, norm, lon, lat).
   * Column-pruned scan: only url/warc_ts/lang/text are read (never html).
   */
  def mentions(spark: SparkSession, pages: DataFrame, scanner: DictScanner): DataFrame = {
    // native expression: sha + mentions from one pass over the page text
    val ex = org.apache.spark.sql.GraftBridge.column(
      graft.functions.ExtractMentionsExpr(
        org.apache.spark.sql.GraftBridge.expression(col("text")),
        broadcastOnce(spark, scanner)))
    pages
      .select(col("url"), col("warc_ts"), col("lang"), ex.as("x"))
      .select(col("url"), col("warc_ts"), col("lang"),
        col("x.text_sha256").as("text_sha256"),
        explode(col("x.mentions")).as("m"))
      .select(col("url"), col("warc_ts"), col("lang"), col("text_sha256"),
        col("m.kind").as("kind"), col("m.surface").as("surface"),
        col("m.norm").as("norm"), col("m.lon").as("lon"), col("m.lat").as("lat"))
  }
}
