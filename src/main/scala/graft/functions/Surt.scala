package graft.functions

import java.util.Locale

/**
 * SURT (Sort-friendly URI Reordering Transform) canonicalization.
 *
 * Re-derived from public SURT documentation and the reference's conformance
 * vectors — the implementation class (WaybackURLKeyMaker, webarchive-commons)
 * is not in the reference tree; its expected behavior is pinned by the CDX
 * fixtures in /root/reference/src/test/java/org/archive/hadoop/pig/CDXLoaderTest.java
 * and the scheme-repair path at
 * /root/reference/src/main/java/org/archive/hadoop/mapreduce/CDXMapper.java:104-109.
 *
 * Vectors (urlkey column == surt(original_url)):
 *   http://109.123.78.101/robots.txt        → 101,78,123,109)/robots.txt
 *   http://219.136.125.131/                 → 131,125,136,219)/
 *   http://www.nuernberger.de/rente/        → de,nuernberger)/rente
 *
 * Rules applied (wayback "aggressive" canonicalization):
 *   scheme + userinfo + fragment stripped; host lowercased, leading
 *   www\d*. stripped, labels reversed and comma-joined (IPs too); default
 *   ports dropped; path lowercased, ;jsessionid stripped, trailing slash
 *   dropped except root; query lowercased, session-id params dropped,
 *   remaining params sorted; empty query dropped.
 */
object Surt {

  private val SessionParams = Set(
    "jsessionid", "phpsessid", "sid", "aspsessionid", "cfid", "cftoken",
    "s_kwcid", "utm_source", "utm_medium", "utm_campaign", "utm_term",
    "utm_content"
  )

  // compiled once: String.replaceFirst/replaceAll recompile per call
  private val WwwLabel = java.util.regex.Pattern.compile("^www\\d*\\.")
  private val PathSessionId = java.util.regex.Pattern.compile(";jsessionid=[^/?]*")

  /** Canonicalize a URL; returns the input unchanged when it cannot be
    * parsed at all (reference keeps the raw value on canon failure —
    * CDXMapper.java:113-120). */
  def surt(url0: String): String = {
    if (url0 == null) return null
    var url = url0.trim
    if (url.isEmpty) return url

    // split off scheme — "://" only counts if it appears BEFORE any
    // '/', '?' or '#' and the scheme chars are legal, else a scheme-less
    // URL with an embedded URL in its query ("a.com/?u=http://b.com")
    // would be split inside the query and keyed under the wrong host
    val schemeEnd = {
      val i = url.indexOf("://")
      val d = url.indexWhere(c => c == '/' || c == '?' || c == '#')
      if (i > 0 && (d < 0 || i < d) &&
        url.substring(0, i).forall(c =>
          c.isLetterOrDigit || c == '+' || c == '-' || c == '.')) i
      else -1
    }
    var rest =
      if (schemeEnd >= 0) url.substring(schemeEnd + 3)
      else if (url.startsWith("dns:")) return "dns:" + url.substring(4).toLowerCase(Locale.ROOT)
      else url

    // userinfo: '@' only counts before '/', '?' AND '#' — an email
    // address in a query of a path-less URL is not userinfo
    val stopIdx0 = rest.indexWhere(c => c == '/' || c == '?' || c == '#')
    val atIdx = rest.indexOf('@')
    if (atIdx >= 0 && (stopIdx0 < 0 || atIdx < stopIdx0))
      rest = rest.substring(atIdx + 1)

    // fragment
    val hashIdx = rest.indexOf('#')
    if (hashIdx >= 0) rest = rest.substring(0, hashIdx)

    // authority / path?query
    val slashIdx = rest.indexOf('/')
    val (authority0, pathQuery) =
      if (slashIdx >= 0) (rest.substring(0, slashIdx), rest.substring(slashIdx))
      else {
        val qIdx = rest.indexOf('?')
        if (qIdx >= 0) (rest.substring(0, qIdx), "/" + rest.substring(qIdx))
        else (rest, "/")
      }
    if (authority0.isEmpty) return url0

    var authority = authority0.toLowerCase(Locale.ROOT)
    // default ports
    var port = ""
    val colonIdx = authority.lastIndexOf(':')
    if (colonIdx >= 0 && authority.indexOf(']') < colonIdx) {
      val p = authority.substring(colonIdx + 1)
      if (p.forall(_.isDigit)) {
        authority = authority.substring(0, colonIdx)
        if (p.nonEmpty && p != "80" && p != "443") port = ":" + p
      }
    }
    // IDN hosts: non-ASCII labels → punycode (RFC 3490), the
    // webarchive-commons behavior — a raw unicode host must key
    // identically to its punycode twin. Unconvertible hosts keep the
    // lowercased raw form rather than failing the whole key.
    if (authority.exists(_ >= 128))
      authority =
        try java.net.IDN.toASCII(authority).toLowerCase(Locale.ROOT)
        catch { case _: Exception => authority }
    // strip leading www, www1, www23 ... label
    if (authority.startsWith("www"))
      authority = WwwLabel.matcher(authority).replaceFirst("")
    val hostKey = authority.split('.').reverse.mkString(",")

    // path + query
    val qIdx = pathQuery.indexOf('?')
    var (path, query) =
      if (qIdx >= 0) (pathQuery.substring(0, qIdx), pathQuery.substring(qIdx + 1))
      else (pathQuery, null: String)

    path = path.toLowerCase(Locale.ROOT)
    // strip path session ids: ;jsessionid=... up to next / or end
    if (path.contains(";jsessionid="))
      path = PathSessionId.matcher(path).replaceAll("")
    // drop trailing slash except root
    if (path.length > 1 && path.endsWith("/")) path = path.dropRight(1)

    val queryKey =
      if (query == null || query.isEmpty) ""
      else {
        val kept = query.toLowerCase(Locale.ROOT)
          .split('&')
          .filter(_.nonEmpty)
          .filterNot { p =>
            val name = p.indexOf('=') match {
              case -1 => p
              case i  => p.substring(0, i)
            }
            SessionParams.contains(name)
          }
          .sorted
        if (kept.isEmpty) "" else "?" + kept.mkString("&")
      }

    hostKey + port + ")" + path + queryKey
  }

  /** SURT of a URL tolerating scheme-less host-only inputs the way
    * CDXMapper does (prefix http://). */
  def surtLenient(url: String): String = {
    if (url == null) return null
    val u = if (url.contains("://") || url.startsWith("dns:")) url else "http://" + url
    surt(u)
  }
}
