package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** JVM-scoped scratch parquet for iterative operators that must
  * materialize a converged result before returning it (the
  * consume-then-release discipline: returning a persisted plan would pin
  * its storage until the ContextCleaner noticed, long after the caller
  * consumed the result — the r5 q33 bench regression).
  *
  * Lifecycle: ONE root directory per JVM, deleted recursively on exit;
  * within it at most one live flush per `tag` — a new flush for a tag
  * deletes the previous one on entry (by then every caller has
  * materialized the prior result inside its own query), so repeated
  * gate/bench cycles in one JVM hold one flush per operator instead of
  * accumulating a result set per execution. The 100 TB form of a flush
  * is a bucketed/partitioned warehouse table maintained between runs,
  * not a temp directory — this is the single-JVM stand-in.
  */
private[graft] object Scratch {

  private val prevFlush =
    scala.collection.concurrent.TrieMap.empty[String, java.nio.file.Path]

  private def rmTree(p: java.io.File): Unit = {
    Option(p.listFiles()).foreach(_.foreach(rmTree))
    p.delete(): Unit
  }

  private lazy val root: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory("graft-scratch-")
    sys.addShutdownHook(rmTree(r.toFile))
    r
  }

  /** Write `df` to a fresh scratch parquet for `tag` (dropping the tag's
    * previous flush) and return the written path. The write is an
    * action: the input plan executes exactly once, and every read of the
    * returned path is a plain parquet scan.
    */
  // per-tag flush locks: two threads flushing the SAME tag concurrently
  // must not delete each other's directory mid-write; flushes of
  // different tags stay parallel (the write is the expensive part)
  private val tagLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  def flushPath(s: SparkSession, tag: String, df: DataFrame): String =
    tagLocks.getOrElseUpdate(tag, new Object).synchronized {
      prevFlush.remove(tag).foreach(p => rmTree(p.toFile))
      val dir = java.nio.file.Files.createTempDirectory(root, s"$tag-")
      prevFlush.put(tag, dir)
      val out = dir.resolve("data").toString
      df.write.mode("overwrite").parquet(out)
      out
    }

  /** Deletes `tag`'s live flush and forgets the tag, lock included: the
    * release for a tag no caller flushes again (one carrying a run nonce),
    * once every reader of the flush has run.
    */
  def release(tag: String): Unit =
    tagLocks.getOrElseUpdate(tag, new Object).synchronized {
      prevFlush.remove(tag).foreach(p => rmTree(p.toFile))
      tagLocks.remove(tag): Unit
    }

  /** [[flushPath]], returning the path-backed frame. The read-back
    * carries the schema of `df`, so it starts no inference job: a
    * user-given parquet schema is made nullable on read (nested fields
    * too), which is exactly what inference would return from the footer
    * (ScratchSpec pins the equality).
    */
  def flush(s: SparkSession, tag: String, df: DataFrame): DataFrame =
    s.read.schema(df.schema).parquet(flushPath(s, tag, df))

  /** The one hex discriminator of a corpus dir, carried by every
    * per-corpus flush tag and layout table name.
    */
  def dirHash(dir: String): String =
    java.lang.Long.toHexString(graft.functions.PolyHash.hash(dir))

  /** A per-corpus-dir flush tag: concurrent suites over DIFFERENT dirs
    * must never share (and therefore delete) one tag's directory.
    */
  def dirTag(prefix: String, dir: String): String = s"$prefix-${dirHash(dir)}"

  /** Build-once memo behind every JVM-scoped layout cache (the
    * bucketed tables, signature/index/winnow stores, codebooks, codes
    * tables and the [[memoTable]] graph and span layouts).
    *
    * `TrieMap.getOrElseUpdate` may evaluate a racing thunk twice and
    * discard one result — but a discarded layout build has already run
    * its side effects (a scratch flush deleting the winner's directory
    * under the same tag, a `dropStale` + CTAS dropping the winner's
    * table mid-read), so the BUILD is serialized, not just the insert.
    * Per KEY, never globally: only same-key builds clobber each other,
    * and a global monitor would block unrelated corpora behind a
    * multi-minute build. Nested builds (labels → edges → pairs,
    * `ensureClustered` → `ensureTrained`) form a DAG over distinct keys,
    * so per-key locks cannot deadlock. A hit takes no lock; a build
    * that throws memoizes nothing.
    */
  final class Memo[K, V] {
    private val values = scala.collection.concurrent.TrieMap.empty[K, V]
    // TrieMap.getOrElseUpdate installs one winning lock per key
    private val locks = scala.collection.concurrent.TrieMap.empty[K, Object]

    def apply(k: K)(build: => V): V =
      values.getOrElse(k, locks.getOrElseUpdate(k, new Object).synchronized {
        values.getOrElseUpdate(k, build)
      })

    /** Replace the memoized value (a caller that just rebuilt it). */
    def put(k: K, v: V): Unit = values.put(k, v): Unit
  }

  private val tables = new Memo[(String, String, String), (String, StructType)]

  /** The catalog name [[memoTable]] registers for `name` over `dir` at
    * the session's shuffle parallelism — how a SQL-only user addresses
    * the layout (StoreCatalogSpec).
    */
  def memoTableName(s: SparkSession, dir: String, name: String): String =
    s"graft_${name}_d${dirHash(dir)}_p${s.conf.get("spark.sql.shuffle.partitions")}"

  /** Memoize a flushed-parquet layout per (dir, shuffle parallelism,
    * `name`) and return it as a plain scan. `buildPath` runs once per
    * key with a flush tag carrying the dir and parallelism (two corpora
    * or partitionings never share, and so never delete, one tag's
    * directory) and returns a path that stays live for the JVM; the
    * path is registered as [[memoTableName]]. The schema the catalog
    * inferred for it is memoized with the path (once per build, never
    * on a hit), so every later call is a scan that starts no job.
    * Parallelism is in the key so ParallelismInvarianceSpec still runs
    * each pipeline per partitioning — one memoized flush would make its
    * cross-parallelism assertion vacuous.
    */
  def memoTable(s: SparkSession, dir: String, name: String)(
      buildPath: String => String): DataFrame = {
    val parts = s.conf.get("spark.sql.shuffle.partitions")
    val (path, schema) = tables((dir, parts, name)) {
      val path = buildPath(s"${name.replace('_', '-')}-d${dirHash(dir)}-p$parts")
      val table = memoTableName(s, dir, name)
      register(s, table, path)
      (path, s.table(table).schema) // inferred by the CREATE TABLE
    }
    s.read.schema(schema).parquet(path)
  }

  private val probeSeq = scala.collection.concurrent.TrieMap
    .empty[String, java.util.concurrent.atomic.AtomicLong]

  /** The next of 4 rotating flush slots for a probe of the store `key`.
    * [[flush]] deletes a tag's PREVIOUS directory on entry, so a fixed
    * per-store tag lets two concurrent probes of one store (a second
    * stream, an ad-hoc probe beside the stream) delete each other's
    * flush while the earlier probe's lazy frame may still read it. The
    * slot keeps each probe's flush alive across the next THREE probes
    * of the same store (growth stays bounded at 4 slots per tag);
    * callers must consume a probe frame before 4 further probes of that
    * store — the streams collect within their own trigger.
    */
  def probeSlot(key: String): Long =
    probeSeq.getOrElseUpdate(key, new java.util.concurrent.atomic.AtomicLong)
      .getAndIncrement() % 4

  /** Register a flushed path as an EXTERNAL parquet catalog table so a
    * SQL-only user can query the memoized store by name
    * (`SELECT … FROM graft_dupgraph_labels_…`) instead of knowing the
    * scratch path. DROP of an external table never deletes the files;
    * the catalog is session-scoped (in-memory), so entries live exactly
    * as long as the scratch itself — nothing dangles across JVMs.
    */
  def register(s: SparkSession, table: String, path: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $table")
    s.sql(s"CREATE TABLE $table USING parquet LOCATION '$path'")
    ()
  }
}
