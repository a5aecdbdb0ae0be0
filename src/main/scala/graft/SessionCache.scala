package graft

import org.apache.spark.sql.SparkSession

/** Session-scoped memoization, and the ONE owner of the query modules'
  * scratch dirs.
  *
  * Every per-(session, fixture dir) artifact a query builds once and
  * then reads (layout copies, durable-store dirs, stream feeds and
  * their checkpoints) is an [[Artifact]]. The artifact owns:
  *   - the memo: one value per (session, fixture dir);
  *   - the path: `java.io.tmpdir/graft_<kind>_<tag>`, where the tag is
  *     a SHA-256 prefix of the fixture dir plus a fresh random nonce,
  *     so no two (session, dir) entries — in one JVM or two — ever
  *     share a path and nothing has to be deleted before a build;
  *   - the lifetime: the path is registered with [[Fs.deleteOnExit]]
  *     BEFORE `build` runs, so a failed build is swept at JVM exit too.
  * Per-call dirs come from [[Fs.scratchDir]] under the same rule.
  *
  * A `TrieMap[(SparkSession, String), V]` — the obvious memo shape —
  * holds STRONG session references: a long-lived process running many
  * sessions would retain every stopped session (and its entries)
  * forever. The outer map is therefore a [[java.util.WeakHashMap]]
  * keyed on the session, so a collected session's entries vanish with
  * it; the inner per-dir map carries no session reference. The lock
  * covers only the outer lookup, never a Spark job — `getOrElseUpdate`
  * on the inner TrieMap runs the (possibly expensive) builder outside
  * it. Memos that are not dirs use [[perSession]] or [[PerSession]]
  * directly. */
object SessionCache {

  type PerDir[V] = scala.collection.concurrent.TrieMap[String, V]
  type Sessions[V] = java.util.WeakHashMap[SparkSession, PerDir[V]]

  def newCache[V](): Sessions[V] = new java.util.WeakHashMap[SparkSession, PerDir[V]]

  def perSession[V](m: Sessions[V], s: SparkSession): PerDir[V] =
    m.synchronized {
      val cur = m.get(s)
      if (cur != null) cur
      else {
        val v = scala.collection.concurrent.TrieMap.empty[String, V]
        m.put(s, v); v
      }
    }

  /** One value per session — e.g. a conf-isolated `newSession()` clone
    * — built under the lock on first use (builds must be cheap). */
  final class PerSession[V](build: SparkSession => V) {
    private val m = new java.util.WeakHashMap[SparkSession, V]
    def apply(s: SparkSession): V = m.synchronized {
      val cur = m.get(s)
      if (cur != null) cur
      else { val v = build(s); m.put(s, v); v }
    }
  }

  /** A write-once artifact per (session, fixture dir): `build` gets the
    * artifact's exit-swept dir `graft_<kind>_<tag>` (not yet created)
    * and returns the memoized value. */
  final class Artifact[V](kind: String) {
    private val memo = newCache[V]()
    def apply(s: SparkSession, d: String)(build: String => V): V =
      perSession(memo, s).getOrElseUpdate(d, build(Fs.deleteOnExit(dirFor(kind, d))))
  }

  /** An [[Artifact]] whose value is its dir: `fill` writes it. */
  final class ArtifactDir(kind: String) {
    private val artifact = new Artifact[String](kind)
    def apply(s: SparkSession, d: String)(fill: String => Unit): String =
      artifact(s, d) { p => fill(p); p }
  }

  /** `graft_<kind>_<sha>_<nonce>` under `java.io.tmpdir`: the SHA-256
    * prefix of the FULL source path keeps the name stable and
    * debuggable (and collision-free where `String.hashCode`'s 32 bits
    * are not); the per-call nonce gives every (session, dir) entry its
    * own dir, so a second session never overwrites files a first
    * session's memoized path may still be reading. Hex and underscores
    * only, so the name is also a valid catalog table-name part. */
  private def dirFor(kind: String, d: String): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8")).take(6).map(b => f"$b%02x").mkString
    val nonce = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    s"${System.getProperty("java.io.tmpdir")}/graft_${kind}_${sha}_$nonce"
  }
}
