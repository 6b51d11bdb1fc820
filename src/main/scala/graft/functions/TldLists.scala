package graft.functions

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.functions.udf

/** Named custom TLD lists + the reference's `*Custom` subdomain family
  * (`src/Functions/URL/firstSignificantSubdomainCustom.cpp`,
  * `cutToFirstSignificantSubdomainCustom.cpp`; lists registered via
  * server config `top_level_domains_lists`). A list is a set of
  * public-suffix strings; lookup finds the LONGEST list suffix that
  * matches whole labels of the host, and the first significant subdomain
  * is the label immediately left of it. Falls back to the built-in
  * two-label rule when no list suffix matches (same as the reference's
  * behavior for hosts outside the list).
  */
object TldLists {

  private val registry = TrieMap.empty[String, Set[String]]

  def create(name: String, suffixes: Seq[String]): Unit =
    registry(name) = suffixes.map(_.toLowerCase).toSet

  def drop(name: String): Unit = registry.remove(name)
  def names: Seq[String] = registry.keys.toSeq.sorted

  private def hostOf(url: String): String = {
    if (url == null) return null
    val noScheme = {
      val i = url.indexOf("://")
      if (i >= 0) url.substring(i + 3)
      else if (url.startsWith("//")) url.substring(2)
      else url
    }
    val afterUser = {
      val at = noScheme.indexOf('@')
      val slash = noScheme.indexOf('/')
      if (at >= 0 && (slash < 0 || at < slash)) noScheme.substring(at + 1)
      else noScheme
    }
    afterUser.takeWhile(c => c != '/' && c != '?' && c != '#' && c != ':')
  }

  /** (significant label, matched suffix) for `host` under `list`;
    * null significant when the host is degenerate
    */
  private def split(host: String, list: Set[String]): (String, String) = {
    if (host == null || host.isEmpty) return (null, null)
    val labels = host.toLowerCase.split('.')
    // longest list suffix aligned on label boundaries
    var i = 0
    while (i < labels.length) {
      val suffix = labels.drop(i).mkString(".")
      if (list.contains(suffix)) {
        val sig = if (i == 0) null else labels(i - 1)
        return (sig, suffix)
      }
      i += 1
    }
    // fallback: built-in rule (last label = TLD, the one before it is
    // significant); a single-label host has no significant subdomain
    // (reference 01601: cut...Custom('there-is-no-such-domain') = '')
    if (labels.length >= 2) (labels(labels.length - 2), labels.last)
    else (null, null)
  }

  def firstSignificant(url: String, listName: String): String = {
    val list = registry.getOrElse(listName,
      throw new IllegalArgumentException(s"TLD list '$listName' does not exist"))
    val (sig, _) = split(hostOf(url), list)
    if (sig == null) "" else sig
  }

  def cutToFirstSignificant(url: String, listName: String, keepWWW: Boolean): String = {
    val list = registry.getOrElse(listName,
      throw new IllegalArgumentException(s"TLD list '$listName' does not exist"))
    val host0 = hostOf(url)
    val host =
      if (!keepWWW && host0 != null && host0.toLowerCase.startsWith("www."))
        host0.substring(4)
      else host0
    val (sig, suffix) = split(host, list)
    if (sig == null) ""
    else if (suffix == null) s"$sig"
    else s"$sig.$suffix"
  }

  def register(r: FunctionSurface.Registrar): Unit = {
    r.udf("firstSignificantSubdomainCustom", udf(
      (u: String, l: String) => firstSignificant(u, l)))
    r.udf("firstSignificantSubdomainCustomRFC", udf(
      (u: String, l: String) => firstSignificant(u, l)))
    r.udf("cutToFirstSignificantSubdomainCustom", udf(
      (u: String, l: String) => cutToFirstSignificant(u, l, keepWWW = false)))
    r.udf("cutToFirstSignificantSubdomainCustomRFC", udf(
      (u: String, l: String) => cutToFirstSignificant(u, l, keepWWW = false)))
    r.udf("cutToFirstSignificantSubdomainCustomWithWWW", udf(
      (u: String, l: String) => cutToFirstSignificant(u, l, keepWWW = true)))
    r.udf("cutToFirstSignificantSubdomainCustomWithWWWRFC", udf(
      (u: String, l: String) => cutToFirstSignificant(u, l, keepWWW = true)))
  }
}
