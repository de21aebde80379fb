package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan lint for the single owners of two crash- and
  * replay-critical fragments, so a new store cannot fork them again:
  *
  *  - the rename swap (`RENAME TO`) lives only in `sources/Bucketed.scala`
  *    — every rewrite goes through `Bucketed.swap`, every heal through
  *    `Bucketed.recover`;
  *  - the (ckpt, batch_id) replay guard lives only in
  *    `streaming/FoldStore.scala` — every guarded-fold monitor goes
  *    through `FoldStore.append`;
  *  - the store front-door loop lives only in `streaming/Sinks.scala`:
  *    `.foreachBatch` appears elsewhere only in the three pipelines
  *    that own no store, the compact-every-N hook and the
  *    collect-and-rewrap nowhere else, and no streaming store compacts
  *    through a `Scratch.flushPath` hop or a lock of its own;
  *  - the build-once layout memo lives only in `operators/Scratch.scala`:
  *    every layout cache is a `Scratch.Memo` (no `buildLock`, no
  *    `getOrElseUpdate(dir`), and the corpus-dir hex is `Scratch.dirHash`;
  *  - parquet schema inference (`.read.parquet(`) lives only in
  *    `Tables.scala`, the miss of the (path, mtime) schema memo, and in
  *    Bench's warm-up: every other read of a parquet path the engine
  *    wrote or already read carries its known schema;
  *  - the keyed append store lives only in `streaming/KeyedStore.scala`:
  *    a bucketed append (`bucketBy … sortBy … .mode("append")
  *    .saveAsTable`) appears elsewhere only in `FoldStore` and the
  *    `EmbeddingIndex`, and a bucketed purge outside `Bucketed` only in
  *    `KeyedStore` and Forget's embedding-index and graph purges;
  *  - the `file:` filesystem is chosen only in `LocalFiles.scala`, and no
  *    engine code names a checkpoint file manager: every file that starts
  *    a query with `.writeStream`, `WorkloadManager` (whose builders may)
  *    and `Tables.scala` (the first call of every batch workload) call
  *    `LocalFiles.install`.
  */
class OwnerLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala/graft")

  private def source(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")

  private def holdersWhere(holds: String => Boolean): Set[String] =
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => holds(source(p)))
      .map((p: Path) => root.relativize(p).toString)
      .toSet

  private def holders(fragment: String): Set[String] =
    holdersWhere(_.contains(fragment))

  test("the rename swap and the replay guard each have one owner in src/main") {
    assert(holders("RENAME TO") == Set("sources/Bucketed.scala"))
    assert(holders("""Seq("ckpt", "batch_id"), "left_anti"""") ==
      Set("streaming/FoldStore.scala"))
  }

  test("every store front door runs through Sinks.ingest") {
    assert(holders(".foreachBatch") == Set("streaming/Sinks.scala",
      "streaming/RepublishPipeline.scala", "streaming/WindowedAgg.scala",
      "Demo.scala"))
    assert(holders("% compactEvery") == Set("streaming/Sinks.scala"))
    assert(holders("Arrays.asList") == Set("streaming/Sinks.scala"))
    assert(!holders("Scratch.flushPath").exists(_.startsWith("streaming/")))
    assert(!holders("compactLocks").exists(_.startsWith("streaming/")))
  }

  test("every layout cache builds once through Scratch.Memo") {
    assert(holders("buildLock").isEmpty)
    assert(holders("getOrElseUpdate(dir").isEmpty)
    assert(holders("toHexString") == Set("operators/Scratch.scala"))
  }

  test("parquet schemas are inferred only by the Tables memo and Bench's warm-up") {
    assert(holders(".read.parquet(") == Set("Tables.scala", "Bench.scala"))
  }

  test("one owner picks the file: filesystem, and every entry point installs it") {
    assert(holders("checkpointFileManagerClass").isEmpty)
    assert(holders("fs.file.impl") == Set("LocalFiles.scala"))
    assert(holders("fs.AbstractFileSystem.file.impl") == Set("LocalFiles.scala"))
    val entries = holders(".writeStream") + "streaming/WorkloadManager.scala" + "Tables.scala"
    assert(entries.diff(holders("LocalFiles.install(")).isEmpty)
  }

  test("bucketed appends go through KeyedStore, FoldStore or the EmbeddingIndex") {
    val bucketedAppend =
      """bucketBy\([^)]*\)\s*\.sortBy\([^)]*\)\s*\.mode\("append"\)\s*\.saveAsTable""".r
    assert(holdersWhere(bucketedAppend.findFirstIn(_).isDefined) == Set(
      "streaming/KeyedStore.scala", "streaming/FoldStore.scala",
      "sources/EmbeddingIndex.scala"))
  }

  test("bucketed purges go through KeyedStore, or Forget's embedding-index and graph purges") {
    assert(holders("purgeBucketed(") == Set("sources/Bucketed.scala",
      "streaming/KeyedStore.scala", "sources/Forget.scala"))
    val forgetPurges = source(root.resolve("sources/Forget.scala"))
      .split("\n  def ").tail.filter(_.contains("purgeBucketed("))
      .map(_.takeWhile(_ != '(')).toSet
    assert(forgetPurges == Set("embeddingIndex", "graph"))
  }
}
