package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** URL canonicalization for crawl-scale dedup: two pages are the same
  * document far more often by *canonical* URL than by raw URL (case
  * noise in scheme/host, default ports, tracking params, param order,
  * fragments). Canonicalizing BEFORE hash-keyed dedup
  * ([[graft.operators.Dedup]]) collapses those spellings the way
  * Unicode NFC (see [[NormalizeText]]) collapses composed/decomposed
  * text.
  *
  * Rules (deterministic, no network, no percent-decoding — decoding
  * can change which resource is named):
  *   - scheme and host lower-cased;
  *   - default port stripped (http:80, https:443), others kept;
  *   - empty path → "/", otherwise kept byte-for-byte;
  *   - query: split on '&', tracking params dropped (`utm_*`, fbclid,
  *     gclid, msclkid), the rest sorted lexicographically as whole
  *     `k=v` tokens (stable under any input order), empty query
  *     dropped entirely;
  *   - fragment dropped;
  *   - unparsable / non-hierarchical input (no host) → null, a
  *     flaggable row, mirroring the codec-reject convention.
  *
  * Per-row single-pass string work → a [[Kernel]] (interpreted
  * HOF chains are the one plan shape this repo bans from hot paths).
  */
case object CanonicalUrl extends Kernel {
  def inputTypes: Seq[Seq[DataType]] = Seq(Kernel.Text)
  def dataType: DataType = StringType

  override def eval(input: Any): Any = {
    val out = canonicalize(input.asInstanceOf[UTF8String].toString)
    if (out == null) null else UTF8String.fromString(out)
  }

  private val DroppedParams = Set("fbclid", "gclid", "msclkid")

  private def isTracking(param: String): Boolean = {
    val key = param.indexOf('=') match {
      case -1 => param
      case i  => param.substring(0, i)
    }
    val k = key.toLowerCase(java.util.Locale.ROOT)
    k.startsWith("utm_") || DroppedParams.contains(k)
  }

  /** Null for unparsable or non-host-bearing input. */
  def canonicalize(raw: String): String = {
    val uri =
      try new java.net.URI(raw.trim)
      catch { case _: java.net.URISyntaxException => return null }
    val scheme = uri.getScheme
    val host = uri.getHost
    if (scheme == null || host == null) return null
    val lcScheme = scheme.toLowerCase(java.util.Locale.ROOT)
    val sb = new StringBuilder(raw.length)
    sb.append(lcScheme).append("://")
    if (uri.getRawUserInfo != null) sb.append(uri.getRawUserInfo).append('@')
    sb.append(host.toLowerCase(java.util.Locale.ROOT))
    val port = uri.getPort
    val isDefault = port == -1 ||
      (lcScheme == "http" && port == 80) || (lcScheme == "https" && port == 443)
    if (!isDefault) sb.append(':').append(port)
    val path = uri.getRawPath
    sb.append(if (path == null || path.isEmpty) "/" else path)
    val query = uri.getRawQuery
    if (query != null) {
      val kept = query.split("&", -1).filter(p => p.nonEmpty && !isTracking(p))
      java.util.Arrays.sort(kept.asInstanceOf[Array[AnyRef]])
      if (kept.nonEmpty) sb.append('?').append(kept.mkString("&"))
    }
    sb.toString
  }

  def canonicalUrl(url: Column): Column =
    Registry.call("graft_canonical_url", url)
}
