package graft

import graft.streaming.{OrderedProcessor, Payloads, RepublishPipeline}
import graft.streaming.broker.{BrokerTopic, InMemoryBroker}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, col, expr, lit, sum}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

/** Streaming throughput measurement for the per-round bench artifact:
  * the batch suite alone would let a regression in the broker admission
  * path, the republish loop, or the ordered-processor state machinery go
  * unnoticed by the driver gates (the specs assert floors, not trends).
  *
  * Two legs, both on DURABLE broker topics (the production-shaped path —
  * every append flows through the per-partition file mirror):
  *
  *  - `republish_rows_per_sec`: the part-2 process→republish→ack loop
  *    ([[RepublishPipeline]]) with failure injection, seeds fanned out
  *    through `maxHops` feedback hops; rows/s = delivered hops (the
  *    final topic log length) over the drain wall-clock.
  *  - `ordered_rows_per_sec`: the part-5 per-key serial processor
  *    ([[OrderedProcessor]]) over a keyed durable topic; rows/s =
  *    processed messages over the drain wall-clock (no failure
  *    injection — this number isolates shuffle + state overhead; retry
  *    semantics are the specs' business).
  *  - `clean_ingest_rows_per_sec`: the streaming substring-dedup front
  *    door ([[graft.streaming.CleanStream]]) ingesting the sf0.001
  *    corpus in micro-batches — docs/s through probe → extent →
  *    splice → store append, the heaviest per-trigger path of the
  *    ingest twins (the deterministic rows count doubles as a loss
  *    check, like the other legs).
  *  - `clean_ingest_capped_rows_per_sec`: the same leg with the
  *    hot-hash tombstone guard on (`maxStoredDf = 25`) — the
  *    throughput delta the bound buys/costs per trigger.
  *  - `tokens_ingest_rows_per_sec`: the token-shard ingest front door
  *    ([[graft.streaming.TokenStream]]) tokenizing the sf0.001 corpus
  *    under the trained merge table in micro-batches — TOKENS/s through
  *    tokenize → probe → bucketed append (merge training is an untimed
  *    layout; the deterministic token count doubles as a loss check).
  *  - `drift_ingest_rows_per_sec`: the online drift monitor
  *    ([[graft.streaming.DriftStream]]) ingesting the sf0.001 documents
  *    with a per-batch W₁ report (the histogram-mass count doubles as a
  *    loss check)
  *  - `freq_ingest_rows_per_sec`: the online frequent-tokens monitor
  *    ([[graft.streaming.FreqStream]]) ingesting the sf0.001 documents
  *    with a per-batch heavy-hitter report (the summed token sentinels
  *    double as a loss check)
  *  - `winnow_ingest_rows_per_sec`: the winnowing dedup-on-ingest front
  *    door ([[graft.streaming.WinnowStream]]) in index-build mode over
  *    the sf0.001 documents in 100-doc batches; loss check = every
  *    fingerprintable doc stored exactly once.
  *  - `anomaly_ingest_rows_per_sec`: the live EWMA anomaly board
  *    ([[graft.streaming.AnomalyStream]]) ingesting the sf0.001 events
  *    in 500-row batches; loss check = served board bit-equal to the
  *    batch q214 fold over the same events.
  *  - `distinct_ingest_rows_per_sec`: the streaming HLL register cube
  *    (DistinctStream) ingesting the sf0.001 events in 100-row
  *    micro-batches with in-stream compaction — events/s through the
  *    register summary → guarded fold → rolling report path (the cube
  *    ≡ batch-cube count is the loss check).
  *  - `index_ingest_rows_per_sec`: the inverted-index ingest front door
  *    ([[graft.streaming.IndexStream]]) indexing the sf0.001 documents
  *    (the manifest count doubles as a loss check)
  *  - `graph_ingest_rows_per_sec`: the incremental connected-components
  *    front door ([[graft.streaming.GraphStream]]) ingesting the
  *    sf0.001 verified-pair stream in micro-batches — pairs/s through
  *    anti-join → label-star merge → bounded CC → label append, with
  *    the streamed label count checked against the batch CC.
  *  - `retrieval_serve_rows_per_sec`: the ANN serving front door
  *    ([[graft.streaming.RetrievalStream]]) answering 64 query vectors
  *    in 8 request batches against the sf0.001 clustered layout —
  *    queries/s through probe-assign → pruned scan → top-10 window
  *    (layout build is untimed; the 64×10 result-row count is the
  *    loss check).
  *  - `ann_ingest_rows_per_sec`: the serving-layout ingest front door
  *    ([[graft.streaming.AnnStream]]) building the sf0.001 clustered
  *    layout from micro-batches under the frozen codebook — vectors/s
  *    through quantize/assign → anti-join → partitioned append (the
  *    codebook training is untimed; the full-corpus row count is the
  *    loss check).
  *
  * Numbers carry the same ±20% host-variance caveat as the batch table;
  * they are trend indicators, not gates.
  */
object StreamBench {

  private val msgSchema = StructType(Seq(
    StructField("key", StringType), StructField("seq", LongType),
    StructField("name", StringType), StructField("numPublishes", IntegerType)))

  /** Returns (metrics, errors) — a failed leg reports an error entry
    * instead of poisoning the whole bench artifact.
    */
  def run(spark: SparkSession): (Map[String, Double], Map[String, String]) = {
    val metrics = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    LocalFiles.install(spark)

    // focused-probe filter (the SPARK_GRAFT_BENCH_ONLY convention for
    // streaming legs): comma-separated leg names; unset = all legs
    val onlyLegs = sys.env.get("SPARK_GRAFT_STREAM_ONLY")
      .map(_.split(",").map(_.trim).toSet)

    def leg(name: String)(body: => (Long, Double)): Unit =
      if (onlyLegs.exists(!_.contains(name))) ()
      else try {
        val (rows, sec) = body
        metrics(s"${name}_rows") = rows.toDouble
        metrics(s"${name}_rows_per_sec") = rows / sec
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\n\r\t]", " ").take(200)
      }

    leg("republish") {
      import spark.implicits._
      val tag = System.nanoTime()
      val tmp = java.nio.file.Files.createTempDirectory("graft-sbench-").toString
      val topic = BrokerTopic.create(spark, s"sbench-rep-$tag",
        Payloads.payloadSchema, numPartitions = 4, logDir = Some(s"$tmp/in"))
      val dlq = BrokerTopic.create(spark, s"sbench-dlq-$tag",
        Payloads.payloadSchema, numPartitions = 4, logDir = Some(s"$tmp/dlq"))
      val seeds = (0 until 200).map(i => (s"msg$i", 0))
      val cfg = RepublishPipeline.Config(
        failPercent = 10, maxHops = 3, maxDeliveries = 3, admitPerTrigger = 256)
      topic.publishSeed(seeds.toDF("name", "numPublishes"))
      val t0 = System.nanoTime()
      val query = RepublishPipeline.start(
        topic, dlq, s"$tmp/ckpt", s"sbench-republish-$tag", cfg)
      try {
        // drain the feedback loop: stop when the log stops growing
        var prev = -1L
        var stable = 0
        while (stable < 2) {
          query.processAllAvailable()
          val cnt = topic.readAll().count()
          if (cnt == prev) stable += 1 else { stable = 0; prev = cnt }
        }
      } finally query.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = topic.readAll().count()
      InMemoryBroker.deleteTopic(topic.name)
      InMemoryBroker.deleteTopic(dlq.name)
      (rows, sec)
    }

    leg("ordered") {
      import spark.implicits._
      val tag = System.nanoTime()
      val tmp = java.nio.file.Files.createTempDirectory("graft-sbench-").toString
      val in = BrokerTopic.create(spark, s"sbench-ord-$tag", msgSchema,
        numPartitions = 4, keyColumn = Some("key"), logDir = Some(s"$tmp/in"))
      val n = 2000
      val keys = 16
      in.publishSeed((0 until n)
        .map(i => (s"k${i % keys}", (i / keys).toLong, s"msg$i", 0))
        .toDF("key", "seq", "name", "numPublishes"))
      val sink = s"sbench_ordered_$tag"
      val t0 = System.nanoTime()
      val msgs = in.readStream(admitPerTrigger = 1024)
        .select(col("key"), col("seq"), col("name"), col("numPublishes"))
        .as[OrderedProcessor.Msg]
      val query = OrderedProcessor
        .run(msgs, (_, _) => false, maxAttempts = 5)
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", s"$tmp/ckpt")
        .start()
      try query.processAllAvailable() finally query.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = spark.table(sink).count()
      require(rows == n.toLong, s"ordered leg processed $rows of $n messages")
      InMemoryBroker.deleteTopic(in.name)
      (rows, sec)
    }

    def cleanIngestLeg(name: String, maxStoredDf: Long): Unit =
      leg(name) {
        import graft.streaming.{CleanStream, Sources}
        import spark.implicits._
        val tag = System.nanoTime()
        val srcDir = "/root/testdata/sf0.001"
        require(new java.io.File(srcDir).exists(), s"$srcDir not present")
        val docs = Tables.load(spark, srcDir, "documents")
          .select(col("doc_id"), col("text")).collect()
          .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
        val store = CleanStream.build(spark, s"sbench_$tag")
        val ckpt = java.nio.file.Files.createTempDirectory("graft-sbench-").toString
        val src = Sources.queue[(Long, String)](spark)
        val t0 = System.nanoTime()
        val query = CleanStream.startIncremental(
          spark, src.toDS().toDF("doc_id", "text"), store,
          minWords = 20, ckpt, onBatch = _ => (), maxStoredDf = maxStoredDf)
        try {
          docs.grouped(100).foreach { g =>
            src.addData(g.toSeq)
            query.processAllAvailable()
          }
        } finally query.stop()
        val sec = (System.nanoTime() - t0) / 1e9
        val rows = spark.table(store.docTable).count()
        graft.sources.Bucketed.dropStale(spark, store.posTable)
        graft.sources.Bucketed.dropStale(spark, store.docTable)
        graft.sources.Bucketed.dropStale(spark, store.tombTable)
        require(rows == docs.length.toLong,
          s"$name leg manifested $rows of ${docs.length} docs")
        (rows, sec)
      }

    // uncapped (exact batch-equivalent semantics) vs hot-hash-guarded:
    // the delta is what the maxStoredDf bound buys/costs per trigger
    cleanIngestLeg("clean_ingest", Long.MaxValue)
    cleanIngestLeg("clean_ingest_capped", 25L)

    leg("tokens_ingest") {
      import graft.streaming.{Sources, TokenStream}
      import spark.implicits._
      val tag = System.nanoTime()
      val srcDir = "/root/testdata/sf0.001"
      require(new java.io.File(srcDir).exists(), s"$srcDir not present")
      val docs = Tables.load(spark, srcDir, "documents")
        .select(col("source"), col("doc_id"), col("text")).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        .sortBy(_._2)
      // the merge table is a trained LAYOUT (the codebook rule):
      // memoized by ensureBpeMerges, pre-trained in the untimed warmup
      val merges = graft.operators.Corpus.ensureBpeMerges(spark, srcDir)
      val store = TokenStream.build(spark, s"sbench_$tag")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-sbench-").toString
      val src = Sources.queue[(String, Long, String)](spark)
      val t0 = System.nanoTime()
      val query = TokenStream.startIncremental(
        spark, src.toDS().toDF("source", "doc_id", "text"), merges, store,
        ckpt, onBatch = _ => ())
      try {
        docs.grouped(100).foreach { g =>
          src.addData(g.toSeq)
          query.processAllAvailable()
        }
      } finally query.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      val ingested = spark.table(store.table)
        .agg(org.apache.spark.sql.functions.count(lit(1)),
          org.apache.spark.sql.functions.countDistinct(col("doc_id")))
        .collect().head
      val (rows, nDocs) = (ingested.getLong(0), ingested.getLong(1))
      graft.sources.Bucketed.dropStale(spark, store.table)
      require(nDocs == docs.length.toLong,
        s"tokens_ingest leg stored $nDocs of ${docs.length} docs")
      (rows, sec) // rows/s = TOKENS per second through tokenize+append
    }

    leg("drift_ingest") {
      import graft.streaming.{DriftStream, Sources}
      import spark.implicits._
      val srcDir = "/root/testdata/sf0.001"
      require(new java.io.File(srcDir).exists(), s"$srcDir not present")
      val docs = Tables.load(spark, srcDir, "documents")
        .select(col("doc_id"), col("source"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
      val store = DriftStream.build(spark, "sbench")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-sbench-").toString
      val src = Sources.queue[(Long, String, String)](spark)
      val t0 = System.nanoTime()
      val query = DriftStream.startIncremental(
        spark, src.toDS().toDF("doc_id", "source", "text"), store, ckpt,
        onBatch = _ => (), compactEvery = 2)
      try {
        docs.grouped(100).foreach { g =>
          src.addData(g.toSeq)
          query.processAllAvailable()
        }
      } finally query.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      // loss check: every doc lands in exactly one histogram cell
      val massed = DriftStream.histogram(spark, store)
        .agg(coalesce(sum(col("o")), lit(0L))).collect().head.getLong(0)
      graft.sources.Bucketed.dropStale(spark, store.table)
      require(massed == docs.length.toLong,
        s"drift_ingest leg folded $massed of ${docs.length} docs")
      (docs.length.toLong, sec)
    }

    leg("manifest_ingest") {
      import graft.streaming.{ManifestStream, Sources}
      import spark.implicits._
      val srcDir = "/root/testdata/sf0.001"
      require(new java.io.File(srcDir).exists(), s"$srcDir not present")
      val docs = Tables.load(spark, srcDir, "documents")
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val store = ManifestStream.build(spark, "sbench")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-sbench-").toString
      val src = Sources.queue[(Long, String)](spark)
      val t0 = System.nanoTime()
      val query = ManifestStream.startIncremental(
        spark, src.toDS().toDF("doc_id", "text"), store, ckpt,
        onBatch = _ => (), compactEvery = 2)
      try {
        docs.grouped(100).foreach { g =>
          src.addData(g.toSeq)
          query.processAllAvailable()
        }
      } finally query.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      // loss check: every doc is counted by exactly one shard manifest
      val massed = ManifestStream.manifest(spark, store)
        .agg(coalesce(sum(col("n_docs")), lit(0L))).collect().head.getLong(0)
      graft.sources.Bucketed.dropStale(spark, store.table)
      require(massed == docs.length.toLong,
        s"manifest_ingest leg folded $massed of ${docs.length} docs")
      (docs.length.toLong, sec)
    }

    leg("freq_ingest") {
      import graft.streaming.{FreqStream, Sources}
      import spark.implicits._
      val srcDir = "/root/testdata/sf0.001"
      require(new java.io.File(srcDir).exists(), s"$srcDir not present")
      val docs = Tables.load(spark, srcDir, "documents")
        .select(col("doc_id"), col("source"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
      val store = FreqStream.build(spark, "sbench")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-sbench-").toString
      val src = Sources.queue[(Long, String, String)](spark)
      val t0 = System.nanoTime()
      val query = FreqStream.startIncremental(
        spark, src.toDS().toDF("doc_id", "source", "text"), store, ckpt,
        onBatch = _ => (), compactEvery = 2)
      try {
        docs.grouped(100).foreach { g =>
          src.addData(g.toSeq)
          query.processAllAvailable()
        }
      } finally query.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      // loss check: the summed sentinels account for every token
      val nTok = FreqStream.totalTokens(spark, store).collect().head.getLong(0)
      val expect = docs.map(_._3.split(" ").count(_.nonEmpty).toLong).sum
      graft.sources.Bucketed.dropStale(spark, store.table)
      require(nTok == expect,
        s"freq_ingest leg accounted $nTok of $expect tokens")
      (docs.length.toLong, sec)
    }

    leg("distinct_ingest") {
      import graft.streaming.{DistinctStream, Sources}
      import spark.implicits._
      val srcDir = "/root/testdata/sf0.001"
      require(new java.io.File(srcDir).exists(), s"$srcDir not present")
      val events = Tables.load(spark, srcDir, "events")
        .select(col("event_type"), col("user_id"),
          expr("unix_micros(ts)").as("tus"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .sortBy(t => (t._3, t._2)).toSeq
      val store = DistinctStream.build(spark, "sbench")
      val ckpt =
        java.nio.file.Files.createTempDirectory("graft-sbench-").toString
      val src = Sources.queue[(String, Long, Long)](spark)
      val t0 = System.nanoTime()
      val query = DistinctStream.startIncremental(
        spark, src.toDS().toDF("event_type", "user_id", "tus"), store, ckpt,
        onBatch = _ => (), compactEvery = 3)
      try {
        events.grouped(100).foreach { g =>
          src.addData(g)
          query.processAllAvailable()
        }
      } finally query.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      // loss check: the streamed cube max-merges to exactly the batch
      // register cube of the same events
      val streamedCube = DistinctStream.dailyCube(spark, store).count()
      val batchCube = DistinctStream.batchRegisters(
        events.toDF("event_type", "user_id", "tus")).count()
      graft.sources.Bucketed.dropStale(spark, store.table)
      require(streamedCube == batchCube,
        s"distinct_ingest leg cube $streamedCube != batch $batchCube")
      (events.length.toLong, sec)
    }

    leg("winnow_ingest") {
      import graft.streaming.{Sources, WinnowStream}
      import graft.sources.WinnowStore
      import spark.implicits._
      val srcDir = "/root/testdata/sf0.001"
      require(new java.io.File(srcDir).exists(), s"$srcDir not present")
      val docs = Tables.load(spark, srcDir, "documents")
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      val store = WinnowStore.build(spark,
        Seq.empty[(Long, String)].toDF("doc_id", "text"), "sbench")
      val ckpt =
        java.nio.file.Files.createTempDirectory("graft-sbench-").toString
      val src = Sources.queue[(Long, String)](spark)
      val t0 = System.nanoTime()
      val query = WinnowStream.startIncremental(
        spark, src.toDS().toDF("doc_id", "text"), store, ckpt,
        onBatch = _ => (), dropShared = Long.MaxValue, compactEvery = 3)
      try {
        docs.grouped(100).foreach { g =>
          src.addData(g)
          query.processAllAvailable()
        }
      } finally query.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      // loss check: index-build mode stores every doc that has at least
      // one winnowed fingerprint, exactly once
      val stored = spark.table(store.fp).select("doc_id").distinct().count()
      val expect = operators.Dedup.winnowFingerprints(
        docs.toDF("doc_id", "text")).select("doc_id").distinct().count()
      graft.sources.Bucketed.dropStale(spark, store.fp)
      graft.sources.Bucketed.dropStale(spark, store.docs)
      require(stored == expect,
        s"winnow_ingest leg stored $stored of $expect fingerprintable docs")
      (docs.length.toLong, sec)
    }

    leg("winnow_dedup_ingest") {
      // the PROBED path (dedup-on-ingest): every batch pays the store
      // probe + withhold before appending — the index-build leg above
      // skips the probe entirely, so this leg is where probe throughput
      // shows up
      import graft.streaming.{Sources, WinnowStream}
      import graft.sources.WinnowStore
      import spark.implicits._
      val srcDir = "/root/testdata/sf0.001"
      require(new java.io.File(srcDir).exists(), s"$srcDir not present")
      val docs = Tables.load(spark, srcDir, "documents")
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      val store = WinnowStore.build(spark,
        Seq.empty[(Long, String)].toDF("doc_id", "text"), "sbenchdd")
      val ckpt =
        java.nio.file.Files.createTempDirectory("graft-sbench-dd-").toString
      val src = Sources.queue[(Long, String)](spark)
      var flagged = 0L
      val t0 = System.nanoTime()
      val query = WinnowStream.startIncremental(
        spark, src.toDS().toDF("doc_id", "text"), store, ckpt,
        onBatch = _ => (), onFlagged = f => flagged += f.count(),
        compactEvery = 3)
      try {
        docs.grouped(100).foreach { g =>
          src.addData(g)
          query.processAllAvailable()
        }
      } finally query.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      // loss check: everything not withheld is stored exactly once
      val storedIds = spark.table(store.fp).select("doc_id").distinct().count()
      graft.sources.Bucketed.dropStale(spark, store.fp)
      graft.sources.Bucketed.dropStale(spark, store.docs)
      require(storedIds > 0L && storedIds <= docs.length.toLong,
        s"winnow_dedup_ingest stored $storedIds of ${docs.length}")
      (docs.length.toLong, sec)
    }

    leg("embed_ingest") {
      // SemDeDup on ingest (the probed path): every batch pays the
      // 2-nearest assignment + store probe + withhold before appending
      // — q227's streaming front door, the embedding twin of
      // winnow_dedup_ingest
      import graft.streaming.{EmbedDedupStream, Sources}
      import graft.sources.EmbedStore
      import spark.implicits._
      val tag = System.nanoTime()
      val srcDir = "/root/testdata/sf0.01" // 500 vectors; sf0.001 has ~50
      require(new java.io.File(srcDir).exists(), s"$srcDir not present")
      // the codebook is a trained LAYOUT (memoized) — untimed, the
      // tokens_ingest merge-table convention
      val cents = operators.Similarity.ensureTrained(spark, srcDir)
      val vecs = Tables.load(spark, srcDir, "embeddings")
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
      val store = EmbedStore.build(spark,
        Seq.empty[(Long, Seq[Long])].toDF("vec_id", "qe"), cents,
        s"sbench_em$tag")
      val ckpt =
        java.nio.file.Files.createTempDirectory("graft-sbench-em-").toString
      val src = Sources.queue[(Long, Seq[Float])](spark)
      var flagged = 0L
      val t0 = System.nanoTime()
      val query = EmbedDedupStream.startIncremental(spark,
        src.toDS().toDF("vec_id", "embedding"), cents, store, ckpt,
        onBatch = _ => (), onFlagged = f => flagged += f.count(),
        compactEvery = 3)
      try {
        vecs.grouped(50).foreach { g =>
          src.addData(g)
          query.processAllAvailable()
        }
      } finally query.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      // loss check: every vector is either stored or flagged, never both
      val stored = spark.table(store.vecs).count()
      graft.sources.Bucketed.dropStale(spark, store.a2)
      graft.sources.Bucketed.dropStale(spark, store.vecs)
      require(stored + flagged == vecs.length.toLong,
        s"embed_ingest stored $stored + flagged $flagged of ${vecs.length}")
      (vecs.length.toLong, sec)
    }

    leg("anomaly_ingest") {
      import graft.streaming.{AnomalyStream, Sources}
      import spark.implicits._
      val srcDir = "/root/testdata/sf0.001"
      require(new java.io.File(srcDir).exists(), s"$srcDir not present")
      val events = Tables.load(spark, srcDir, "events")
        .select(col("event_type"), col("ts")).collect()
        .map(r => (r.getString(0), r.getTimestamp(1)))
        .sortBy(_._2.getTime).toSeq
      val store = AnomalyStream.build(spark, "sbench")
      val ckpt =
        java.nio.file.Files.createTempDirectory("graft-sbench-").toString
      val src = Sources.queue[(String, java.sql.Timestamp)](spark)
      val t0 = System.nanoTime()
      val query = AnomalyStream.startIncremental(
        spark, src.toDS().toDF("event_type", "ts"), store, ckpt,
        onBatch = _ => (), compactEvery = 3)
      try {
        events.grouped(500).foreach { g =>
          src.addData(g)
          query.processAllAvailable()
        }
      } finally query.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      // loss check: the streamed board is bit-identical to the batch
      // fold over the same events
      val served = AnomalyStream.serve(spark, store)
        .collect().map(_.toString).sorted.toSeq
      val batch = operators.Temporal.ewmaFromCounts(
        operators.Temporal.eventDayCounts(events.toDF("event_type", "ts")))
        .collect().map(_.toString).sorted.toSeq
      graft.sources.Bucketed.dropStale(spark, store.table)
      require(served == batch,
        s"anomaly_ingest leg served ${served.length} rows != batch ${batch.length}")
      (events.length.toLong, sec)
    }

    leg("index_ingest") {
      import graft.streaming.{IndexStream, Sources}
      import graft.sources.IndexStore
      import spark.implicits._
      val srcDir = "/root/testdata/sf0.001"
      require(new java.io.File(srcDir).exists(), s"$srcDir not present")
      val docs = Tables.load(spark, srcDir, "documents")
        .select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val store = IndexStore.build(spark,
        Seq.empty[(Long, String)].toDF("doc_id", "text"), "sbench")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-sbench-").toString
      val src = Sources.queue[(Long, String)](spark)
      val t0 = System.nanoTime()
      val query = IndexStream.startIncremental(
        spark, src.toDS().toDF("doc_id", "text"), store, ckpt,
        compactEvery = 2)
      try {
        docs.grouped(100).foreach { g =>
          src.addData(g.toSeq)
          query.processAllAvailable()
        }
      } finally query.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      // loss check: every doc manifested exactly once
      val manifested = spark.table(store.manifest).count()
      graft.sources.Bucketed.dropStale(spark, store.postings)
      graft.sources.Bucketed.dropStale(spark, store.manifest)
      require(manifested == docs.length.toLong,
        s"index_ingest leg manifested $manifested of ${docs.length} docs")
      (docs.length.toLong, sec)
    }

    leg("graph_ingest") {
      import graft.streaming.{GraphStream, Sources}
      import spark.implicits._
      val tag = System.nanoTime()
      val srcDir = "/root/testdata/sf0.001"
      require(new java.io.File(srcDir).exists(), s"$srcDir not present")
      // verified near-dup pairs, fed in micro-batches — incremental CC
      // (label-star merge per trigger) is the per-trigger cost measured
      val pairs = operators.DupGraph.pairs(spark, srcDir)
        .select(col("doc_id_1"), col("doc_id_2")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(p => (p._1, p._2))
      val store = GraphStream.build(spark, s"sbench_$tag")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-sbench-").toString
      val src = Sources.queue[(Long, Long)](spark)
      val t0 = System.nanoTime()
      val query = GraphStream.startIncremental(
        spark, src.toDS().toDF("doc_id_1", "doc_id_2"), store, ckpt)
      try {
        pairs.grouped(math.max(1, pairs.size / 8)).foreach { g =>
          src.addData(g)
          query.processAllAvailable()
        }
      } finally query.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      // loss check: streamed labels must cover exactly the batch CC nodes
      val streamed = GraphStream.labels(spark, store).count()
      val batch = operators.DupGraph.labels(spark, srcDir).count()
      graft.sources.Bucketed.dropStale(spark, store.edgeTable)
      graft.sources.Bucketed.dropStale(spark, store.labelTable)
      require(streamed == batch,
        s"graph_ingest leg labeled $streamed of $batch nodes")
      (pairs.length.toLong, sec)
    }

    leg("retrieval_serve") {
      import graft.streaming.{RetrievalStream, Sources}
      import spark.implicits._
      val srcDir = "/root/testdata/sf0.001"
      require(new java.io.File(srcDir).exists(), s"$srcDir not present")
      // the codebook + clustered layout are LAYOUTS (Bench-warmup
      // class) — build them untimed; the leg times SERVING
      operators.Similarity.ensureTrained(spark, srcDir)
      operators.Similarity.ensureClustered(spark, srcDir)
      val queries = Tables.load(spark, srcDir, "embeddings")
        .filter(col("vec_id") < 64)
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.sortBy(_._1)
      val ckpt = java.nio.file.Files.createTempDirectory("graft-sbench-").toString
      val src = Sources.queue[(Long, Seq[Float])](spark)
      val served = new java.util.concurrent.atomic.AtomicLong(0L)
      val t0 = System.nanoTime()
      val query = RetrievalStream.start(spark,
        src.toDS().toDF("query_id", "embedding"), srcDir, ckpt,
        onResults = r => served.addAndGet(r.count()))
      try {
        queries.grouped(8).foreach { g => // 8 request batches of 8
          src.addData(g)
          query.processAllAvailable()
        }
      } finally query.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      // loss check: every query answered with a full top-10
      require(served.get() == queries.size * 10L,
        s"retrieval_serve leg returned ${served.get()} of ${queries.size * 10} rows")
      (queries.size.toLong, sec)
    }

    leg("ann_ingest") {
      import graft.streaming.{AnnStream, Sources}
      import spark.implicits._
      val tag = System.nanoTime()
      val srcDir = "/root/testdata/sf0.001"
      require(new java.io.File(srcDir).exists(), s"$srcDir not present")
      val cents = operators.Similarity.ensureTrained(spark, srcDir) // untimed
      val vecs = Tables.load(spark, srcDir, "embeddings")
        .select("vec_id", "embedding").collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.sortBy(_._1)
      val table = operators.Similarity.buildClusteredEmpty(spark, s"sbench_$tag")
      val ckpt = java.nio.file.Files.createTempDirectory("graft-sbench-").toString
      val src = Sources.queue[(Long, Seq[Float])](spark)
      val t0 = System.nanoTime()
      val query = AnnStream.startIncremental(spark,
        src.toDS().toDF("vec_id", "embedding"), table, ckpt, cents)
      try {
        vecs.grouped(100).foreach { g =>
          src.addData(g)
          query.processAllAvailable()
        }
      } finally query.stop()
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = spark.table(table).count()
      graft.sources.Bucketed.dropStale(spark, table)
      require(rows == vecs.size.toLong,
        s"ann_ingest leg appended $rows of ${vecs.size} vectors")
      (rows, sec)
    }

    (metrics.toMap, errors.toMap)
  }
}
