package graft.crawl

/**
 * URL canonicalization — the key function under the seen-set
 * (`BASELINE.json.north_star`: "partitioned cuckoo-filter URL-seen set keyed
 * by canonicalized+xxhash64 URLs"). What is implemented is an exact seen
 * table behind a sharded bloom-filter prefilter ([[BloomSeen]]), both keyed
 * by xxhash64 of the canonical form.
 *
 * The reference dedups on exact numeric post ids (/root/reference/weibo.py:1698-1699,
 * SQLite PK replace weibo.py:2536-2540); at web scale the id is the URL, so a
 * canonical form must be fixed before hashing. Rules (idempotent:
 * canonicalize∘canonicalize == canonicalize, property-tested):
 *
 *  1. scheme and host lowercased;
 *  2. fragment stripped;
 *  3. default ports removed (:80 http, :443 https);
 *  4. empty path → "/";
 *  5. trailing "?" (empty query) stripped;
 *  6. path dot-segments resolved ("/a/./b/../c" → "/a/c");
 *  7. percent-encoding normalized per RFC 3986 §6.2.2 in path and query
 *     (VERDICT r3): unreserved characters decoded ("%7Ea" ≡ "~a"), remaining
 *     triplets uppercased ("%7ea" → "%7E…"), reserved encodings KEPT
 *     ("%2Fa" ≢ "/a" — a path-separator encoding is semantically distinct).
 *     Decoding runs BEFORE dot-segment resolution (§6.2.2.3 ordering: "%2E"
 *     is an encoded dot-segment). Malformed triplets ("%G1", trailing "%a")
 *     pass through untouched. The authority is left out of scope: hosts are
 *     IDN/punycode territory, not percent-encoding territory, and a wrong
 *     host rewrite would corrupt the politeness key.
 *
 * Query-parameter reordering is deliberately NOT done: parameter order can be
 * semantically meaningful and the reference never reorders its own cursors.
 */
object Canonical {

  def canonicalize(url: String): String = {
    if (url == null) return null
    val u = url.trim
    val schemeEnd = u.indexOf("://")
    if (schemeEnd < 0) return stripFragment(u) // not absolute; leave mostly as-is
    val scheme = u.substring(0, schemeEnd).toLowerCase
    val rest = u.substring(schemeEnd + 3)
    val authorityEnd = {
      val i = rest.indexWhere(c => c == '/' || c == '?' || c == '#')
      if (i < 0) rest.length else i
    }
    var authority = rest.substring(0, authorityEnd).toLowerCase
    if (scheme == "http" && authority.endsWith(":80")) authority = authority.dropRight(3)
    if (scheme == "https" && authority.endsWith(":443")) authority = authority.dropRight(4)
    var tail = stripFragment(rest.substring(authorityEnd))
    if (tail.isEmpty) tail = "/"
    else if (tail.startsWith("?")) tail = "/" + tail
    // split path vs query; resolve dot-segments in path only. Percent
    // normalization runs BEFORE dot resolution (RFC 3986 §6.2.2.3): an
    // encoded "%2E" dot-segment must be decoded first to be resolved.
    val qIdx = tail.indexOf('?')
    val (path, query) = if (qIdx < 0) (tail, "") else (tail.substring(0, qIdx), tail.substring(qIdx))
    val cleanQuery = if (query == "?") "" else query
    s"$scheme://$authority${resolveDots(normalizePercent(path))}${normalizePercent(cleanQuery)}"
  }

  private def isUnreserved(c: Int): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') ||
      c == '-' || c == '.' || c == '_' || c == '~'

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** RFC 3986 §6.2.2.1-2: decode percent-encoded UNRESERVED characters,
    * uppercase the hex of every other (reserved / opaque) triplet. Malformed
    * sequences pass through. Idempotent: the output contains no unreserved
    * triplets and only uppercase hex, both fixed points. */
  private[crawl] def normalizePercent(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length &&
          hexVal(s.charAt(i + 1)) >= 0 && hexVal(s.charAt(i + 2)) >= 0) {
        val v = hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2))
        if (isUnreserved(v)) sb.append(v.toChar)
        else {
          sb.append('%')
          sb.append(Character.toUpperCase(s.charAt(i + 1)))
          sb.append(Character.toUpperCase(s.charAt(i + 2)))
        }
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def stripFragment(s: String): String = {
    val i = s.indexOf('#')
    if (i < 0) s else s.substring(0, i)
  }

  /** RFC 3986 §5.2.4 remove_dot_segments, for absolute paths. */
  private def resolveDots(path: String): String = {
    if (!path.contains("/.")) return path
    val out = new scala.collection.mutable.ArrayBuffer[String]
    val hasTrailingSlash = path.endsWith("/") || path.endsWith("/.") || path.endsWith("/..")
    path.split("/", -1).foreach {
      case "" | "." => // skip
      case ".."     => if (out.nonEmpty) out.remove(out.length - 1)
      case seg      => out += seg
    }
    val joined = out.mkString("/", "/", if (hasTrailingSlash && out.nonEmpty) "/" else "")
    if (joined.isEmpty) "/" else joined
  }

  /** Lowercase host (without port) of an absolute url; "" if unparseable.
    * Politeness/partitioning key (north rule: salted repartitioning on host-hash). */
  def host(url: String): String = {
    if (url == null) return ""
    val u = url.trim
    val schemeEnd = u.indexOf("://")
    if (schemeEnd < 0) return ""
    val rest = u.substring(schemeEnd + 3)
    val end = {
      val i = rest.indexWhere(c => c == '/' || c == '?' || c == '#')
      if (i < 0) rest.length else i
    }
    val auth = rest.substring(0, end)
    val colon = auth.lastIndexOf(':')
    val hostPart = if (colon >= 0 && auth.drop(colon + 1).forall(_.isDigit)) auth.substring(0, colon) else auth
    hostPart.toLowerCase
  }
}
