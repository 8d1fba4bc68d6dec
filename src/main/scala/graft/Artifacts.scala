package graft

import java.lang.ref.WeakReference
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** The artifact store: every piece of fit-once derived state the engine
  * keeps — fitted centroids and codebooks, scoring models, and the
  * persisted catalog tables (signature, shingle, graph, media, index
  * artifacts) — is built once per (session, key) through [[cached]], and
  * every catalog table is named, cleaned up and guarded through [[table]].
  *
  * Two reasons the write-once contract exists:
  *  - **Oracle exactness**: the DuckDB oracle SQL for the k-means family
  *    embeds the fitted centroids/codebooks as literals
  *    ([[graft.queries.AnnOracles]]). The query plan and the generated
  *    oracle MUST see the *same* fit, so both go through this cache
  *    within a Verify run.
  *  - **The 100 TB shape**: fitting is a one-off batch job; every later
  *    query reads the fit (or the persisted table) instead of re-running
  *    it, so bench numbers measure the operator, not whichever query
  *    touched the fit first.
  */
object Artifacts {

  /** One key's fit: filled once under its own lock, so a fit may itself
    * call [[cached]] for other keys (the map's bin locks are never held
    * while a fit runs). `running` catches a fit that re-enters its own key. */
  private final class Slot(val session: WeakReference[SparkSession]) {
    var value: AnyRef = null
    var running = false
  }

  private val cache = new ConcurrentHashMap[(Int, String), Slot]()

  /** Fit once per (session, key), serve the same value afterwards. Values
    * must be plain data or table NAMES — never a DataFrame, which would pin
    * the session through the weak reference — and never null.
    *
    * The entry holds its session WEAKLY: a stopped session is collectable
    * (the fit refits if its owner was collected), and a long-lived JVM
    * churning sessions doesn't pin the dead ones. Reference equality on the
    * referent still forces a refit when an identityHashCode is reused by a
    * NEW session, so a stale fit can never serve the wrong session.
    * Concurrent callers of one key wait for a single fit; unrelated keys —
    * and unrelated queries — run free. A fit that throws leaves no entry,
    * so the next call retries. */
  @annotation.tailrec
  def cached[T <: AnyRef](spark: SparkSession, key: String)(fit: => T): T = {
    // opportunistic sweep: drop entries whose session has been collected
    // (the cache holds a few dozen keys, so this is O(few) per call)
    val it = cache.entrySet().iterator()
    while (it.hasNext) if (it.next().getValue.session.get() eq null) it.remove()
    val k = (System.identityHashCode(spark), key)
    val slot = cache.compute(k, (_, old) =>
      if (old != null && (old.session.get() eq spark)) old
      else new Slot(new WeakReference(spark)))
    val v = slot.synchronized {
      // a slot whose fit failed was unmapped: fall through and retry
      if (slot.value == null && (cache.get(k) eq slot)) {
        if (slot.running)
          throw new IllegalStateException(s"artifact fit for '$key' re-entered itself")
        slot.running = true
        try slot.value = fit
        catch { case e: Throwable => cache.remove(k, slot); throw e }
        finally slot.running = false
      }
      slot.value
    }
    if (v != null) v.asInstanceOf[T] else cached(spark, key)(fit)
  }

  /** [[cached]] for a fit derived from the files under `dir`: the key also
    * carries the dir's [[inputs]] fingerprint, so a dir rewritten inside
    * the session fits again instead of serving the stale value. */
  def cached[T <: AnyRef](spark: SparkSession, key: String, dir: String)(fit: => T): T =
    cached(spark, s"$key:$dir:${inputs(spark, dir)}")(fit)

  /** A fingerprint of the files under `dir`: each one's path, length and
    * modification time, hashed. Empty for a dir that does not exist. */
  def inputs(spark: SparkSession, dir: String): String = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return ""
    // listStatus, not listFiles: a located status copies the permissions,
    // which the local filesystem reads by forking `stat` once per file
    def files(p: org.apache.hadoop.fs.Path): Seq[String] = fs.listStatus(p).toSeq.flatMap(f =>
      if (f.isDirectory) files(f.getPath)
      else Seq(s"${f.getPath}\u0000${f.getLen}\u0000${f.getModificationTime}"))
    hex(files(root).sorted.mkString("\n"), 8)
  }

  private def hex(s: String, bytes: Int): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(bytes).map(b => f"${b & 0xff}%02x").mkString

  /** The catalog base name of the (kind, dir) artifact: the dir folded to
    * a readable identifier, then a hash of the exact dir string, since
    * folding alone maps `/x/a/b` and `/x/a_b`, or `SF` and `sf`, to one
    * name. */
  def name(kind: String, dir: String): String =
    ("graft_" + kind + "_" + dir.replaceAll("[^A-Za-z0-9]", "_")).toLowerCase + "_" + hex(dir, 6)

  /** A persisted catalog artifact, written once per (session, kind, dir)
    * and again whenever the dir's [[inputs]] change: drops each
    * `base + part` table and deletes its warehouse path, then runs
    * `write(base)`, which saves exactly those tables. Returns `base`.
    * A warehouse directory left by a PRIOR run is not in this run's
    * in-memory catalog, so the delete is what lets `saveAsTable` recreate
    * it. */
  def table(spark: SparkSession, kind: String, dir: String, parts: Seq[String] = Seq(""))
      (write: String => Unit): String = {
    val base = name(kind, dir)
    cached(spark, s"table:$kind", dir) {
      val wh = spark.conf.get("spark.sql.warehouse.dir")
      for (part <- parts) {
        spark.sql(s"DROP TABLE IF EXISTS $base$part")
        val p = new org.apache.hadoop.fs.Path(wh, base + part)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      write(base)
      base
    }
  }
}
