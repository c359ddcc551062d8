package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamOps

/** X23/X24 streaming-delivery semantics (SURVEY §5.2 layer 3): watermark
  * late-data drop and in-watermark dedup, driven by MemoryStream. Window
  * *semantics* are oracle-checked in batch (EventQueries); here we assert
  * the behaviors that only exist in streaming execution. */
class StreamOpsSpec extends SparkSpec {

  import spark.implicits._

  case class Ev(event_id: Long, ts: Timestamp, value: Double)
  case class Chg(event_id: Long, ts: Timestamp, value: Double, op: String)
  case class ChgP(event_id: Long, pcol: String, ts: Timestamp, value: Double,
    op: String)
  case class Doc(doc_id: Long, text: String, ts: Timestamp)
  case class Vec(c_id: Long, ce: Seq[Double])
  case class Click(user_id: Long, cts: Timestamp)
  case class Buy(user_id: Long, bts: Timestamp)
  def t(minute: Int) = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("X23: aggregation state emits finalized windows; late rows beyond " +
    "the watermark are dropped") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = StreamOps.tumblingAgg("ts", "event_id", "10 minutes", "value")(
      StreamOps.withLateness("ts", "5 minutes")(mem.toDF()))
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("x23_out").start()
    try {
      // batch 1: rows in window [10:00,10:10) and [10:20,10:30)
      mem.addData(Ev(1, t(1), 1.0), Ev(1, t(22), 1.0))
      q.processAllAvailable()
      // watermark now 10:22-5min = 10:17 → window [10:00,10:10) finalized
      mem.addData(Ev(1, t(23), 1.0))
      q.processAllAvailable()
      // late arrival into the finalized window → must be dropped
      mem.addData(Ev(1, t(2), 99.0))
      q.processAllAvailable()
      mem.addData(Ev(1, t(45), 1.0)) // advance watermark, flush remaining
      q.processAllAvailable()
      val out = spark.table("x23_out")
        .select("w_start", "n", "sum_v").as[(Timestamp, Long, Double)]
        .collect().map { case (k, n, s) => (k.toString, (n, s)) }.toMap
      // [10:00,10:10) closed with ONE row (the late 99.0 never counted)
      assert(out("2024-01-01 10:00:00.0") === ((1L, 1.0)))
    } finally q.stop()
  }

  test("X117b: streaming EWMA folds across batches, sorts within a batch, " +
    "drops cross-batch regressions, and equals the batch analog") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[StreamOps.EwmaEvent]
    val q = StreamOps.ewmaWithState(0.5)(mem.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("x117b_out").start()
    try {
      // batch 1 arrives OUT OF ORDER within the batch: must sort by ts
      mem.addData(
        StreamOps.EwmaEvent(1L, t(2), 2L, 20.0),
        StreamOps.EwmaEvent(1L, t(1), 1L, 10.0))
      q.processAllAvailable()
      // batch 2: continues the fold; one event regresses BEHIND the
      // processed position and must drop
      mem.addData(
        StreamOps.EwmaEvent(1L, t(3), 3L, 30.0),
        StreamOps.EwmaEvent(1L, t(1), 99L, 999.0), // late: ts < lastTs
        StreamOps.EwmaEvent(2L, t(1), 4L, 5.0))    // fresh key
      q.processAllAvailable()
      val out = spark.table("x117b_out")
        .select("user_id", "event_id", "ewma")
        .as[(Long, Long, Double)].collect().toSet
      // adjusted EWMA, α=.5: y1=10; y2=(20+.5*10)/1.5; y3=(30+.5*25/1.5... )
      val y1 = 10.0
      val y2 = (20.0 + 0.5 * 10.0) / 1.5
      val y3 = (30.0 + 0.5 * (20.0 + 0.5 * 10.0)) / 1.75
      assert(out === Set((1L, 1L, y1), (1L, 2L, y2), (1L, 3L, y3),
        (2L, 4L, 5.0)))
      // parity: the batch analog over the ACCEPTED events gives the same
      val accepted = Seq(
        StreamOps.EwmaEvent(1L, t(1), 1L, 10.0),
        StreamOps.EwmaEvent(1L, t(2), 2L, 20.0),
        StreamOps.EwmaEvent(1L, t(3), 3L, 30.0),
        StreamOps.EwmaEvent(2L, t(1), 4L, 5.0)).toDS()
      val batch = StreamOps.ewmaBatch(0.5)(accepted)
        .collect().map(p => (p.user_id, p.event_id, p.ewma)).toSet
      assert(batch === out)
    } finally q.stop()
  }

  test("X117b: untruncated fold converges — den approaches 1/alpha and a " +
    "constant series smooths to the constant") {
    val ev = (1 to 40).map(i =>
      StreamOps.EwmaEvent(7L, t(i), i.toLong, 42.0)).toDS()
    val out = StreamOps.ewmaBatch(0.25)(ev).orderBy("event_id")
      .select("ewma").as[Double].collect()
    assert(out.head === 42.0)
    assert(math.abs(out.last - 42.0) < 1e-9)
  }

  test("X20/W4: file-source streaming over the events parquet matches batch") {
    // the real events table as a stream: readStream + AvailableNow — the
    // engine's W4 'dataset updated' pattern at record granularity
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    // file stream sources need a directory; expose the single-file table
    // through a temp dir symlink (testdata itself is read-only)
    val streamDir = java.nio.file.Files.createTempDirectory("events_stream_")
    java.nio.file.Files.createSymbolicLink(
      streamDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sfDir/events.parquet"))
    val stream = env.eventsStream(streamDir.toString)
    val agg = StreamOps.tumblingAgg("ts", "event_type", "1 hour", "value")(
      StreamOps.withLateness("ts", "10 minutes")(stream))
    val q = agg.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("x20_stream")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination(120000)
      val streamed = spark.table("x20_stream")
      val batch = StreamOps.tumblingAgg("ts", "event_type", "1 hour", "value")(env.events)
      // append mode only emits windows finalized by the watermark; every
      // emitted window must exactly match its batch counterpart
      val joined = streamed.as("s").join(batch.as("b"),
        Seq("w_start", "event_type"))
      assert(streamed.count() > 0)
      assert(joined.filter($"s.n" =!= $"b.n" || $"s.sum_v" =!= $"b.sum_v").count() === 0)
      assert(joined.count() === streamed.count())
    } finally q.stop()
  }

  test("custom state: flatMapGroupsWithState sessionization emits closed sessions") {
    implicit val sc = spark.sqlContext
    import StreamOps.{ClosedSession, SessionEvent}
    val mem = MemoryStream[SessionEvent]
    val out = StreamOps.sessionizeWithState(gapMs = 30 * 60 * 1000)(mem.toDS())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      // user 1: two events 5 min apart (one session), then a 40-min gap
      // event that closes it and opens a new one
      mem.addData(SessionEvent(1, t(0)), SessionEvent(1, t(5)))
      q.processAllAvailable()
      mem.addData(SessionEvent(1, t(45)))
      q.processAllAvailable()
      val closed = spark.table("sess_out").as[ClosedSession].collect()
      assert(closed.length === 1)
      assert(closed.head.user_id === 1L)
      assert(closed.head.session_start === t(0))
      assert(closed.head.session_end === t(5))
      assert(closed.head.n === 2L)
    } finally q.stop()
  }

  test("X22c end-to-end delivery: out-of-order + late events through " +
    "sessionizeWithState; final emitted sessions equal sessionizeBatch") {
    implicit val sc = spark.sqlContext
    import StreamOps.{ClosedSession, SessionEvent}
    def tl(min: Int) = Timestamp.valueOf(
      java.time.LocalDateTime.of(2024, 1, 1, 10, 0, 0).plusMinutes(min))
    val mem = MemoryStream[SessionEvent]
    // gap 30 min, watermark delay 10 min
    val out = StreamOps.sessionizeWithState(gapMs = 30 * 60 * 1000,
      watermarkDelay = "10 minutes")(mem.toDS())
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("sess_e2e").start()
    try {
      // batch 1: u1 and u2 open sessions; watermark after: 10:10
      mem.addData(SessionEvent(1, tl(20)), SessionEvent(2, tl(0)))
      q.processAllAvailable()
      // batch 2: OUT-OF-ORDER arrivals for u1 — both precede the already-
      // seen 10:20 but sit above the 10:10 watermark, so they must fold
      // into the open session (never emitted as singleton sessions)
      mem.addData(SessionEvent(1, tl(12)), SessionEvent(1, tl(15)))
      q.processAllAvailable()
      // batch 3: >gap jumps close both sessions; watermark after: 10:85
      mem.addData(SessionEvent(1, tl(90)), SessionEvent(2, tl(95)))
      q.processAllAvailable()
      // batch 4: a LATE event below the watermark (10:05 < 10:85) — must
      // be dropped; had it been accepted, u1's first session would have
      // widened to [10:05,10:20] n=4 and the batch-parity assert below
      // would fail
      mem.addData(SessionEvent(1, tl(5)))
      q.processAllAvailable()
      // sentinel batches advance the watermark past both open sessions'
      // gap deadlines (10:120/10:125), so event-time timeouts flush them
      mem.addData(SessionEvent(9, tl(200)))
      q.processAllAvailable()
      mem.addData(SessionEvent(9, tl(210)))
      q.processAllAvailable()
      val streamed = spark.table("sess_e2e").as[ClosedSession]
        .filter($"user_id" <= 2)
        .collect()
        .map(s => (s.user_id, s.session_start, s.session_end, s.n)).toSet
      // batch reference over exactly the ACCEPTED events (the dropped
      // 10:05 excluded): the shared gapMerge core must deliver the same
      // sessions through the streaming state machine
      val accepted = Seq(
        SessionEvent(1, tl(20)), SessionEvent(2, tl(0)),
        SessionEvent(1, tl(12)), SessionEvent(1, tl(15)),
        SessionEvent(1, tl(90)), SessionEvent(2, tl(95))).toDS()
      val batch = StreamOps.sessionizeBatch(30 * 60 * 1000)(accepted)
        .collect()
        .map(s => (s.user_id, s.session_start, s.session_end, s.n)).toSet
      assert(streamed === batch)
      // shape sanity: the out-of-order folds produced one 3-event session
      assert(streamed === Set(
        (1L, tl(12), tl(20), 3L), (1L, tl(90), tl(90), 1L),
        (2L, tl(0), tl(0), 1L), (2L, tl(95), tl(95), 1L)))
    } finally q.stop()
  }

  test("S6-streaming: keyedAppendSink is idempotent under redelivery") {
    implicit val sc = spark.sqlContext
    import graft.sources.TableStore
    val dir = java.nio.file.Files.createTempDirectory("stream_store_")
    val store = new TableStore(spark, dir.toString)
    store.overwrite("sink_t",
      spark.createDataFrame(Seq((0L, t(0), 0.0))).toDF("event_id", "ts", "value"))
    val mem = MemoryStream[Ev]
    val q = StreamOps.keyedAppendSink(store, "sink_t", "event_id",
      dir.resolve("ckpt").toString)(mem.toDF())
    try {
      mem.addData(Ev(1, t(1), 1.0), Ev(2, t(2), 2.0))
      q.processAllAvailable()
      // redelivery of key 1 (same + changed payload) and a fresh key 3
      mem.addData(Ev(1, t(1), 99.0), Ev(3, t(3), 3.0))
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$dir/sink_t")
        .orderBy("event_id").collect()
      assert(rows.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 3L))
      // key 1 kept its FIRST payload (existing wins, reference OR IGNORE)
      assert(rows(1).getDouble(2) === 1.0)
    } finally q.stop()
  }

  test("CDC-streaming: cdcUpsertSink applies latest-per-key changes with " +
    "tombstones; redelivered batches converge") {
    implicit val sc = spark.sqlContext
    import graft.sources.TableStore
    val dir = java.nio.file.Files.createTempDirectory("cdc_stream_")
    val store = new TableStore(spark, dir.toString)
    store.overwrite("state_t",
      spark.createDataFrame(Seq((1L, t(0), 10.0), (2L, t(0), 20.0)))
        .toDF("event_id", "ts", "value"))
    val mem = MemoryStream[Chg]
    val q = StreamOps.cdcUpsertSink(store, "state_t", "event_id", "ts",
      dir.resolve("ckpt").toString)(mem.toDF())
    try {
      // one batch carrying: two changes to key 1 OUT OF ORDER (latest must
      // win), a delete of key 2, an insert of key 3
      mem.addData(
        Chg(1L, t(5), 99.0, "U"), Chg(1L, t(3), 55.0, "U"),
        Chg(2L, t(4), 0.0, "D"), Chg(3L, t(2), 30.0, "I"))
      q.processAllAvailable()
      def state() = spark.read.parquet(s"$dir/state_t")
        .orderBy("event_id").select("event_id", "value")
        .as[(Long, Double)].collect().toSeq
      assert(state() === Seq((1L, 99.0), (3L, 30.0)))
      // redelivery of the SAME change batch (at-least-once): must converge
      // to the identical table, not duplicate or resurrect key 2
      StreamOps.applyCdcBatch(store, "state_t", "event_id", "ts", "op")(
        spark.createDataFrame(Seq(
          (1L, t(5), 99.0, "U"), (1L, t(3), 55.0, "U"),
          (2L, t(4), 0.0, "D"), (3L, t(2), 30.0, "I")))
          .toDF("event_id", "ts", "value", "op"))
      assert(state() === Seq((1L, 99.0), (3L, 30.0)))
    } finally q.stop()
  }

  test("CDC-streaming partitioned: a batch touching 1 of N partitions " +
    "rewrites ONLY that partition's files; emptied partitions are dropped") {
    implicit val sc = spark.sqlContext
    import graft.sources.TableStore
    val dir = java.nio.file.Files.createTempDirectory("cdc_part_stream_")
    val store = new TableStore(spark, dir.toString)
    // 3 partitions, 2 rows each — pcol is the partition column
    store.overwritePartitioned("pt",
      spark.createDataFrame(Seq(
        (1L, "a", 10.0), (2L, "a", 20.0),
        (3L, "b", 30.0), (4L, "b", 40.0),
        (5L, "c", 50.0), (6L, "c", 60.0)))
        .toDF("event_id", "pcol", "value"), Seq("pcol"))
    def filesOf(p: String) = {
      val d = new java.io.File(s"$dir/pt/pcol=$p")
      if (!d.exists) Map.empty[String, Long]
      else d.listFiles.filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified).toMap
    }
    val (aBefore, bBefore, cBefore) = (filesOf("a"), filesOf("b"), filesOf("c"))
    val mem = MemoryStream[ChgP]
    val q = StreamOps.cdcUpsertSink(store, "pt", "event_id", "ts",
      dir.resolve("ckpt").toString, partCol = Some("pcol"))(mem.toDF())
    try {
      // batch touches partition b only: update key 3, insert key 7
      mem.addData(ChgP(3L, "b", t(5), 99.0, "U"), ChgP(7L, "b", t(5), 70.0, "I"))
      q.processAllAvailable()
      // untouched partitions: SAME files, byte-for-byte untouched (name +
      // mtime identical) — the full-rewrite path would have replaced them
      assert(filesOf("a") === aBefore && filesOf("c") === cBefore)
      assert(filesOf("b") !== bBefore)
      def state() = spark.read.parquet(s"$dir/pt")
        .orderBy("event_id").select("event_id", "value")
        .as[(Long, Double)].collect().toSeq
      assert(state() === Seq((1L, 10.0), (2L, 20.0), (3L, 99.0),
        (4L, 40.0), (5L, 50.0), (6L, 60.0), (7L, 70.0)))
      // redelivery converges (tie-broken deterministically)
      StreamOps.applyCdcBatch(store, "pt", "event_id", "ts", "op",
        Some("pcol"))(
        spark.createDataFrame(Seq(
          (3L, "b", t(5), 99.0, "U"), (7L, "b", t(5), 70.0, "I")))
          .toDF("event_id", "pcol", "ts", "value", "op"))
      assert(state() === Seq((1L, 10.0), (2L, 20.0), (3L, 99.0),
        (4L, 40.0), (5L, 50.0), (6L, 60.0), (7L, 70.0)))
      // a batch deleting EVERY row of partition c drops its directory
      mem.addData(ChgP(5L, "c", t(6), 0.0, "D"), ChgP(6L, "c", t(6), 0.0, "D"))
      q.processAllAvailable()
      assert(filesOf("c").isEmpty)
      assert(state() === Seq((1L, 10.0), (2L, 20.0), (3L, 99.0),
        (4L, 40.0), (7L, 70.0)))
      assert(filesOf("a") === aBefore) // still untouched
    } finally q.stop()
  }

  test("stream-stream interval join pairs within the bound; watermarks " +
    "bound the join state") {
    implicit val sc = spark.sqlContext
    val lm = MemoryStream[Click]
    val rm = MemoryStream[Buy]
    // append-mode stream-stream joins REQUIRE both watermarks + the time
    // bound — an unbounded variant is rejected at analysis, so the fact
    // this query starts at all proves the state-eviction contract
    val joined = StreamOps.intervalJoin("user_id", "cts", "bts",
      "5 minutes", "10 minutes")(lm.toDF(), rm.toDF())
    val q = joined.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ssj_out").start()
    try {
      lm.addData(Click(1, t(0)), Click(2, t(0)))
      rm.addData(Buy(1, t(5)), Buy(2, t(25))) // user 2: outside the bound
      q.processAllAvailable()
      // advance both watermarks past every interval so results finalize
      lm.addData(Click(99, t(59)))
      rm.addData(Buy(98, t(59)))
      q.processAllAvailable()
      val out = spark.table("ssj_out").select("cts", "bts").collect()
      assert(out.length === 1)
      assert(out.head.getTimestamp(0) === t(0))
      assert(out.head.getTimestamp(1) === t(5))
    } finally q.stop()
  }

  test("X24b: streaming CONTENT dedup — fingerprint within watermark " +
    "suppresses re-ingested duplicate documents") {
    // the streaming-ingestion shape of X30 exact dedup: documents arrive
    // as a stream, the content fingerprint is the dedup key, state is
    // bounded by the watermark — corpus ingestion never re-admits a
    // doc it saw within the horizon, and state can't grow unboundedly
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Doc]
    val withFp = mem.toDF().withColumn("fp",
      graft.ops.TextOps.fingerprint(org.apache.spark.sql.functions.col("text")))
    val dedup = StreamOps.dedupWithinWatermark("fp", "ts", "10 minutes")(withFp)
    val q = dedup.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("x24b_out").start()
    try {
      mem.addData(Doc(1, "alpha  beta", t(1)), Doc(2, "ALPHA BETA ", t(2)),
        Doc(3, "gamma", t(3)))
      q.processAllAvailable()
      // same normalized content re-ingested (different id) → suppressed
      mem.addData(Doc(4, "alpha beta", t(4)))
      q.processAllAvailable()
      val out = spark.table("x24b_out").select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(out == Set(1L, 3L),
        s"expected only first-seen contents to survive, got $out")
    } finally q.stop()
  }

  test("X120c-stream: novelty census ingested through foreachBatch — " +
      "redelivered and mixed batches converge to the batch-built census; " +
      "probe scores match; a fresh below-HWM id fails loudly") {
    implicit val sc = spark.sqlContext
    val ssS = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("nv_stream_").toString)
    val ssB = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("nv_batchref_").toString)
    val ck = java.nio.file.Files.createTempDirectory("nv_ck_").toString
    import graft.ops.SimilarityOps
    val docs = env.documents
    // withhold id 10 from the build: the out-of-order check below needs a
    // FRESH (never-committed) id under the census high-water mark
    val corpus = docs.filter($"doc_id" < 150 && $"doc_id" =!= 10)
    val b1 = docs.filter($"doc_id" >= 150 && $"doc_id" < 250)
    val b2 = docs.filter($"doc_id" >= 250 && $"doc_id" < 300)
    val b3 = docs.filter($"doc_id" >= 300 && $"doc_id" < 350)
    val probeBatch = docs.filter($"doc_id" >= 350 && $"doc_id" < 400)
    def asDocs(df: org.apache.spark.sql.DataFrame): Seq[Doc] =
      df.select("doc_id", "text").as[(Long, String)].collect().toSeq
        .map { case (id, tx) => Doc(id, tx, t(1)) }
    try {
      SimilarityOps.buildNoveltyIndexVersioned(ssS, "nvs", corpus,
        "doc_id", "text", 5)
      val mem = MemoryStream[Doc]
      val q = StreamOps.versionedNoveltyCensusSink(ssS, "nvs", "doc_id",
        "text", ck)(mem.toDF())
      try {
        mem.addData(asDocs(b1): _*); q.processAllAvailable()
        mem.addData(asDocs(b2): _*); q.processAllAvailable()
        // full redelivery of b1 AFTER b2 committed (reordered duplicate):
        // the doc-registry anti-join makes it a no-op
        mem.addData(asDocs(b1): _*); q.processAllAvailable()
        // mixed batch: already-committed b2 docs + fresh b3 docs — only
        // the fresh docs commit, and the monotone gate sees only them
        mem.addData(asDocs(b2.unionByName(b3)): _*); q.processAllAvailable()
      } finally q.stop()
      // one-shot batch reference over the identical final corpus
      SimilarityOps.buildNoveltyIndexVersioned(ssB, "nvb",
        corpus.unionByName(b1).unionByName(b2).unionByName(b3),
        "doc_id", "text", 5)
      def census(ss: graft.sources.SnapshotStore, n: String) =
        ss.readTable(n, "grams").as[(Long, Long)].collect().toSet
      assert(census(ssS, "nvs") === census(ssB, "nvb"))
      assert(ssS.readTable("nvs", "docs").as[Long].collect().toSet ===
        ssB.readTable("nvb", "docs").as[Long].collect().toSet)
      // probe parity: a new batch scores identically against both
      def probe(ss: graft.sources.SnapshotStore, n: String) =
        SimilarityOps.probeNoveltyIndexVersioned(ss, n, probeBatch,
            "doc_id", "text")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3))).toSet
      val p = probe(ssS, "nvs")
      assert(p.nonEmpty && p === probe(ssB, "nvb"))
      // genuinely out-of-order ingestion (fresh id BELOW the high-water
      // mark, never committed) must fail the query, not rewrite ownership
      val mem2 = MemoryStream[Doc]
      val ck2 = java.nio.file.Files.createTempDirectory("nv_ck2_").toString
      val q2 = StreamOps.versionedNoveltyCensusSink(ssS, "nvs", "doc_id",
        "text", ck2)(mem2.toDF())
      try {
        mem2.addData(Doc(10L, "fresh doc below the high water mark", t(2)))
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q2.processAllAvailable()
        }
      } finally q2.stop()
    } finally {
      ssS.dropCatalogTables("nvs")
      ssB.dropCatalogTables("nvb")
    }
  }

  test("X125d-stream: versionedBm25IndexSink — each micro-batch is ONE " +
      "atomic multi-table commit; redelivery commits nothing (content " +
      "AND history effectively-once); probe ≡ batch-built") {
    implicit val sc = spark.sqlContext
    import graft.ops.RetrievalOps
    val ss = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("bm25_vsink_").toString)
    val ck = java.nio.file.Files.createTempDirectory("bm25_vck_").toString
    val docs = env.documents
    val corpus = docs.filter($"doc_id" < 150)
    val b1 = docs.filter($"doc_id" >= 150 && $"doc_id" < 250)
    val b2 = docs.filter($"doc_id" >= 250 && $"doc_id" < 350)
    def asDocs(df: org.apache.spark.sql.DataFrame): Seq[Doc] =
      df.select("doc_id", "text").as[(Long, String)].collect().toSeq
        .map { case (id, tx) => Doc(id, tx, t(1)) }
    RetrievalOps.buildBm25IndexVersioned(ss, "bm", corpus, "doc_id", "text")
    val mem = MemoryStream[Doc]
    val q = StreamOps.versionedBm25IndexSink(ss, "bm", "doc_id", "text",
      ck)(mem.toDF())
    try {
      mem.addData(asDocs(b1): _*); q.processAllAvailable()
      mem.addData(asDocs(b2): _*); q.processAllAvailable()
      assert(ss.currentVersion("bm") === 3L) // one version per real batch
      mem.addData(asDocs(b1): _*); q.processAllAvailable() // redelivery
      assert(ss.currentVersion("bm") === 3L,
        "a redelivered batch must not even commit a version")
    } finally q.stop()
    val terms = Seq("window", "merge", "join")
    def scored(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(scored(RetrievalOps.probeBm25IndexVersioned(ss, "bm", "doc_id",
      terms)) === scored(RetrievalOps.bm25Scores(
      corpus.unionByName(b1).unionByName(b2), "doc_id", "text", terms)))
    // mid-stream versions time-travel: v2 == corpus + b1 only
    assert(scored(RetrievalOps.probeBm25IndexVersioned(ss, "bm", "doc_id",
      terms, version = Some(2L))) === scored(RetrievalOps.bm25Scores(
      corpus.unionByName(b1), "doc_id", "text", terms)))
  }

  test("X141c: versionedMergeSink — every micro-batch is an auditable " +
      "version; redelivery converges in content; rollback undoes a batch") {
    implicit val sc = spark.sqlContext
    val ss = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("vsink_").toString)
    // base version: the empty table (key + cmpCols projection)
    ss.commitOverwrite("vt", Seq.empty[(Long, Double)].toDF("event_id", "value"))
    val ck = java.nio.file.Files.createTempDirectory("vsink_ck_").toString
    val mem = MemoryStream[Chg]
    val q = StreamOps.versionedMergeSink(ss, "vt", "event_id", "ts",
      Seq("value"), ck)(mem.toDF())
    def content(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "value").as[(Long, Double)].collect().toMap
    try {
      mem.addData(Chg(1, t(1), 10.0, "U"), Chg(2, t(1), 20.0, "U"))
      q.processAllAvailable()
      assert(ss.currentVersion("vt") === 2L)
      assert(content(ss.readCurrent("vt")) === Map(1L -> 10.0, 2L -> 20.0))
      // batch 2: update key 2, delete key 1 — lands as version 3
      mem.addData(Chg(2, t(2), 25.0, "U"), Chg(1, t(2), 0.0, "D"))
      q.processAllAvailable()
      assert(ss.currentVersion("vt") === 3L)
      assert(content(ss.readCurrent("vt")) === Map(2L -> 25.0))
      // redelivery: a NEW version (at-least-once history, auditable)
      // whose content is identical (effectively-once content)
      mem.addData(Chg(2, t(2), 25.0, "U"), Chg(1, t(2), 0.0, "D"))
      q.processAllAvailable()
      assert(ss.currentVersion("vt") === 4L)
      assert(content(ss.readVersion("vt", 4L)) ===
        content(ss.readVersion("vt", 3L)))
    } finally q.stop()
    // the bad batch is one metadata-only rollback away; v3/v4 stay
    // readable for audit
    ss.rollback("vt", 2L)
    assert(content(ss.readCurrent("vt")) === Map(1L -> 10.0, 2L -> 20.0))
    assert(content(ss.readVersion("vt", 3L)) === Map(2L -> 25.0))
  }

  test("X141c (r17): versionedMergeSink on a KEYED table commits each " +
      "batch through the file-granular CoW merge (zone stats survive — " +
      "statsFromZones keeps serving) and optimizeEvery folds the slice " +
      "debt as content-preserving versions — the self-maintaining sink") {
    implicit val sc = spark.sqlContext
    val ss = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("vsink_cow_").toString)
    ss.commitOverwriteKeyed("kt", "event_id", spark.range(0L, 200L)
      .select($"id".as("event_id"),
        ($"id" % 7).cast("double").as("value")),
      numFiles = 4)
    val ck = java.nio.file.Files.createTempDirectory("vsink_cck_").toString
    val mem = MemoryStream[Chg]
    val q = StreamOps.versionedMergeSink(ss, "kt", "event_id", "ts",
      Seq("value"), ck, optimizeEvery = 2,
      optimizeTargetBytes = 1L << 20)(mem.toDF())
    def content = ss.readCurrent("kt").select("event_id", "value")
      .as[(Long, Double)].collect().toMap
    try {
      mem.addData(Chg(1, t(1), 100.0, "U"))
      q.processAllAvailable() // batch 0: CoW merge, no optimize yet
      assert(content(1L) === 100.0 && content.size === 200)
      mem.addData(Chg(2, t(2), 200.0, "U"), Chg(3, t(2), 0.0, "D"))
      q.processAllAvailable() // batch 1: CoW merge + the cadence optimize
      assert(content(2L) === 200.0 && !content.contains(3L) &&
        content.size === 199)
    } finally q.stop()
    // zones survived every commit ⇒ the CoW path ran (a full-rewrite
    // commitMerge would have dropped them and statsFromZones would
    // refuse); the packed table still serves metadata-only stats
    assert(ss.statsFromZones("kt", ss.currentVersion("kt"))
      .head().getAs[Long]("n_rows") === 199L)
    // the cadence optimize committed a content-preserving version
    import org.apache.spark.sql.functions.{col => c}
    assert(ss.history("kt").filter(c("content_preserving")).count() >= 1L,
      "optimizeEvery must have folded the slice debt")
  }

  test("X125d-stream: a dead claim from a crashed sink incarnation " +
      "self-heals on restart (single-writer recovery) instead of " +
      "wedging every redelivery") {
    implicit val sc = spark.sqlContext
    import graft.ops.RetrievalOps
    val ss = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("bm25_heal_").toString)
    val ck = java.nio.file.Files.createTempDirectory("bm25_hck_").toString
    val docs = env.documents
    val corpus = docs.filter($"doc_id" < 150)
    val b1 = docs.filter($"doc_id" >= 150 && $"doc_id" < 250)
    RetrievalOps.buildBm25IndexVersioned(ss, "bm", corpus, "doc_id", "text")
    // the previous incarnation died between claim(v2) and the swap
    ss.claim("bm", 2L)
    val mem = MemoryStream[Doc]
    val q = StreamOps.versionedBm25IndexSink(ss, "bm", "doc_id", "text",
      ck)(mem.toDF())
    try {
      mem.addData(b1.select("doc_id", "text").as[(Long, String)]
        .collect().toSeq.map { case (id, tx) => Doc(id, tx, t(1)) }: _*)
      q.processAllAvailable() // must release the dead claim and commit
    } finally q.stop()
    assert(ss.currentVersion("bm") === 2L)
    def scored(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(scored(RetrievalOps.probeBm25IndexVersioned(ss, "bm", "doc_id",
      Seq("window", "merge", "join"))) ===
      scored(RetrievalOps.bm25Scores(corpus.unionByName(b1),
        "doc_id", "text", Seq("window", "merge", "join"))))
  }

  test("X31d-stream: versionedMinhashIndexSink — one atomic sigs+bands " +
      "version per batch; out-of-order + redelivery commit nothing " +
      "extra; probe ≡ plain batch-built; mid-stream time travel") {
    implicit val sc = spark.sqlContext
    import graft.ops.SimilarityOps
    val ss = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("mh_vsink_").toString)
    val ck = java.nio.file.Files.createTempDirectory("mh_vck_").toString
    val docs = env.documents
    val corpus = docs.filter($"doc_id" % 5 =!= 0 && $"doc_id" < 400)
    val b1 = docs.filter($"doc_id" % 5 === 0 && $"doc_id" < 200)
    val b2 = docs.filter($"doc_id" % 5 === 0 &&
      $"doc_id" >= 200 && $"doc_id" < 400)
    val held = docs.filter($"doc_id" >= 400 && $"doc_id" < 500)
    def asDocs(df: org.apache.spark.sql.DataFrame): Seq[Doc] =
      df.select("doc_id", "text").as[(Long, String)].collect().toSeq
        .map { case (id, tx) => Doc(id, tx, t(1)) }
    SimilarityOps.buildMinhashIndexVersioned(ss, "mh", corpus,
      "doc_id", "text")
    val mem = MemoryStream[Doc]
    val q = StreamOps.versionedMinhashIndexSink(ss, "mh", "doc_id",
      "text", ck)(mem.toDF())
    try {
      mem.addData(asDocs(b2): _*); q.processAllAvailable() // out of order
      mem.addData(asDocs(b1): _*); q.processAllAvailable()
      assert(ss.currentVersion("mh") === 3L)
      mem.addData(asDocs(b2): _*); q.processAllAvailable() // redelivery
      assert(ss.currentVersion("mh") === 3L,
        "a redelivered batch must not even commit a version")
    } finally q.stop()
    // reference: the same index built in ONE batch
    val ref = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("mh_vref_").toString)
    SimilarityOps.buildMinhashIndexVersioned(ref, "mh",
      corpus.unionByName(b1).unionByName(b2), "doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairSet(SimilarityOps.probeMinhashIndexVersioned(ss, "mh",
      held, "doc_id", "text")) ===
      pairSet(SimilarityOps.probeMinhashIndexVersioned(ref, "mh", held,
        "doc_id", "text")))
    // the streamed docs are really in the index (not a vacuous equality):
    // the sig registry holds corpus ∪ b1 ∪ b2
    assert(ss.readTable("mh", "sigs").count() ===
      corpus.count() + b1.count() + b2.count())
    // mid-stream time travel: v2's sig registry = corpus ∪ b2 only
    assert(ss.readTableVersion("mh", 2L, "sigs").count() ===
      corpus.count() + b2.count())
  }

  test("X120d-stream: versionedNoveltyCensusSink — one atomic grams+docs " +
      "version per batch; a dead claim self-heals; redelivery commits " +
      "nothing; probe ≡ plain batch-built census") {
    implicit val sc = spark.sqlContext
    import graft.ops.SimilarityOps
    val ss = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("nv_vsink_").toString)
    val ck = java.nio.file.Files.createTempDirectory("nv_vck_").toString
    val docs = env.documents.filter($"doc_id" < 400)
    val corpus = docs.filter($"doc_id" < 200)
    val b1 = docs.filter($"doc_id" >= 200 && $"doc_id" < 300)
    val b2 = docs.filter($"doc_id" >= 300)
    val held = env.documents.filter($"doc_id" >= 400 && $"doc_id" < 450)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    def asDocs(df: org.apache.spark.sql.DataFrame): Seq[Doc] =
      df.select("doc_id", "text").as[(Long, String)].collect().toSeq
        .map { case (id, tx) => Doc(id, tx, t(1)) }
    try {
      SimilarityOps.buildNoveltyIndexVersioned(ss, "nv", corpus,
        "doc_id", "text", 5)
      // a previous incarnation died between claim(v2) and the swap —
      // the sink must release the dead claim and land the batch
      ss.claim("nv", 2L)
      val mem = MemoryStream[Doc]
      val q = StreamOps.versionedNoveltyCensusSink(ss, "nv", "doc_id",
        "text", ck)(mem.toDF())
      try {
        mem.addData(asDocs(b1): _*); q.processAllAvailable()
        assert(ss.currentVersion("nv") === 2L, "dead claim must self-heal")
        mem.addData(asDocs(b2): _*); q.processAllAvailable()
        assert(ss.currentVersion("nv") === 3L)
        mem.addData(asDocs(b1): _*); q.processAllAvailable() // redelivery
        assert(ss.currentVersion("nv") === 3L,
          "a redelivered batch must not even commit a version")
      } finally q.stop()
      // streamed census ≡ a one-shot batch-built census for a held-out
      // probe
      val ref = new graft.sources.SnapshotStore(spark,
        java.nio.file.Files.createTempDirectory("nv_vref_").toString)
      SimilarityOps.buildNoveltyIndexVersioned(ref, "nvr", docs,
        "doc_id", "text", 5)
      def scores(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet
      try assert(scores(SimilarityOps.probeNoveltyIndexVersioned(ss, "nv",
          held, "doc_id", "text")) ===
          scores(SimilarityOps.probeNoveltyIndexVersioned(ref, "nvr", held,
            "doc_id", "text")))
      finally ref.dropCatalogTables("nvr")
      // mid-stream time travel: v2 registers corpus ∪ b1 docs only
      assert(ss.readTableVersion("nv", 2L, "docs").count() ===
        corpus.count() + b1.count())
    } finally ss.dropCatalogTables("nv")
  }

  test("X142h: drainChangeFeed — a view maintained PURELY from the feed " +
      "≡ from-scratch at every version; a crash inside process resumes " +
      "from the checkpoint watermark (no skip, no double-count); a " +
      "redelivered step commits nothing; a feed gap is refused") {
    import graft.ops.CdcOps
    val ss = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("feed_").toString)
    val ck = java.nio.file.Files.createTempDirectory("feed_ck_").toString
    // source history: build, append, rewrite (update g=2, delete g=3)
    ss.commitOverwrite("t", Seq((1L, 10L), (2L, 5L)).toDF("g", "m"))
    ss.commitAppend("t", Seq((1L, 20L), (3L, 7L)).toDF("g", "m"))
    ss.commitOverwrite("t", Seq((1L, 10L), (1L, 20L), (2L, 6L))
      .toDF("g", "m"))
    def viewRows = ss.readTable("v", "agg")
      .select("g", "sum_m", "n_rows") // name-pinned: the agg also
                                      // carries the NULL-exact n_vals
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def scratchAt(v: Long) = ss.readVersion("t", v).groupBy("g")
      .agg(org.apache.spark.sql.functions.sum("m").as("s"),
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def fold(ch: org.apache.spark.sql.DataFrame, v: Long): Unit =
      CdcOps.foldSumViewStep(ss, "v", Seq("g"), "m", ch, v): Unit
    // first drain CRASHES at step 3 — steps 1 and 2 are consumed and
    // checkpointed, step 3 is not
    var seen = List.empty[Long]
    intercept[RuntimeException](
      StreamOps.drainChangeFeed(ss, "t", ck) { (ch, v) =>
        if (v == 3L) throw new RuntimeException("consumer died mid-step")
        seen = seen :+ v
        fold(ch, v)
      })
    assert(seen === List(1L, 2L))
    assert(viewRows === scratchAt(2L),
      "the view must reflect exactly the consumed prefix")
    // restart: resumes AT v3 — nothing re-delivered, nothing skipped
    assert(StreamOps.drainChangeFeed(ss, "t", ck)(fold) === Seq(3L))
    assert(viewRows === scratchAt(3L))
    // crash AFTER process, BEFORE the watermark advance = redelivery:
    // the exactly-once fold commits NOTHING, not even a version
    val vv = ss.currentVersion("v")
    fold(ss.changesBetween("t", 2L, 3L), 3L)
    assert(ss.currentVersion("v") === vv)
    // drained-dry: an empty drain never invokes the consumer
    assert(StreamOps.drainChangeFeed(ss, "t", ck)((_, _) =>
      fail("must not be invoked")).isEmpty)
    // new commits flow through the same checkpoint
    ss.commitAppend("t", Seq((4L, 40L)).toDF("g", "m"))
    assert(StreamOps.drainChangeFeed(ss, "t", ck)(fold) === Seq(4L))
    assert(viewRows === scratchAt(4L))
    // a consumer skipping versions is refused loudly
    intercept[IllegalArgumentException](
      CdcOps.foldSumViewStep(ss, "v", Seq("g"), "m",
        ss.changesBetween("t", 3L, 4L), 9L))
  }

  test("X142o (r17): followChangeFeed — the continuous consumption " +
      "shape: a follower thread keeps draining while a producer " +
      "commits, every version arrives exactly once in order through " +
      "the shared checkpoint, and the loop stops on its condition") {
    val ss = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("follow_").toString)
    val ck = java.nio.file.Files.createTempDirectory("follow_ck_").toString
    ss.commitOverwrite("t", Seq((1L, 10L)).toDF("g", "m"))
    ss.commitAppend("t", Seq((2L, 20L)).toDF("g", "m"))
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val follower = Future {
      StreamOps.followChangeFeed(ss, "t", ck, pollMillis = 50L)(
        () => got.size >= 5) { (ch, v) =>
        got.add((v, ch.count())): Unit
      }
    }
    // the producer keeps committing while the follower runs — the loop
    // must pick up versions committed AFTER it started
    (3 to 5).foreach { i =>
      ss.commitAppend("t", Seq((i.toLong, i * 10L)).toDF("g", "m"))
      Thread.sleep(30L)
    }
    assert(Await.result(follower, 120.seconds) === 5L)
    val versions = got.toArray(Array.empty[(Long, Long)]).map(_._1).toSeq
    assert(versions === Seq(1L, 2L, 3L, 4L, 5L),
      s"every version exactly once, ascending: got $versions")
    // a later follow resumes from the same checkpoint: nothing pending
    assert(StreamOps.followChangeFeed(ss, "t", ck)(() => true)((_, _) =>
      fail("must not be invoked")) === 0L)
  }

  test("X142l/X142m feed parity: exact-distinct and SCD2 views " +
      "maintained PURELY from drainChangeFeed match from-scratch at " +
      "every step; redelivered steps commit nothing; gaps refuse") {
    import graft.ops.CdcOps
    val ss = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("feedx_").toString)
    val ck = java.nio.file.Files.createTempDirectory("feedx_ck_").toString
    // dimension history: update k=1 (v2), insert k=3 (v3), delete k=2 (v4)
    ss.commitOverwrite("t", Seq((1L, "a"), (2L, "b")).toDF("k", "attr"))
    ss.commitOverwrite("t", Seq((1L, "a2"), (2L, "b")).toDF("k", "attr"))
    ss.commitAppend("t", Seq((3L, "c")).toDF("k", "attr"))
    ss.commitOverwrite("t", Seq((1L, "a2"), (3L, "c")).toDF("k", "attr"))
    val drained = StreamOps.drainChangeFeed(ss, "t", ck) { (ch, v) =>
      CdcOps.foldExactDistinctStep(ss, "xd", Seq.empty, "attr", ch, v,
        nBuckets = 4): Unit
      CdcOps.foldScd2Step(ss, "scd", "k", ch, v, nBuckets = 4): Unit
    }
    assert(drained === (1L to 4L))
    // exact distinct ≡ from-scratch (global count over attr)
    assert(CdcOps.exactDistinctOf(ss, "xd", Seq.empty).head().getLong(0)
      === ss.readCurrent("t").select("attr").distinct().count())
    // SCD2 intervals reconstruct every version's content
    import org.apache.spark.sql.functions.col
    (1L to 4L).foreach { v =>
      val asOf = CdcOps.scd2Of(ss, "scd")
        .filter(col("valid_from_v") <= v &&
          (col("valid_to_v").isNull || col("valid_to_v") > v))
        .select("k", "attr").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val src = ss.readVersion("t", v).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(asOf === src, s"feed-built SCD2 as-of v$v")
    }
    // redelivered steps commit nothing on either view
    val (xdV, scdV) = (ss.currentVersion("xd"), ss.currentVersion("scd"))
    val redo = ss.changesBetween("t", 3L, 4L)
    assert(CdcOps.foldExactDistinctStep(ss, "xd", Seq.empty, "attr",
      redo, 4L)._1 === xdV)
    assert(CdcOps.foldScd2Step(ss, "scd", "k", redo, 4L)._1 === scdV)
    assert(ss.currentVersion("xd") === xdV &&
      ss.currentVersion("scd") === scdV)
    // gaps refuse loudly on both
    intercept[IllegalArgumentException](
      CdcOps.foldExactDistinctStep(ss, "xd", Seq.empty, "attr", redo, 9L))
    intercept[IllegalArgumentException](
      CdcOps.foldScd2Step(ss, "scd", "k", redo, 9L))
  }

  test("X142h: maxVersionsPerTrigger bounds one drain — a 10-version " +
      "backlog consumed 3-per-call converges to EXACTLY the unbounded " +
      "drain's state, the watermark advancing only through consumed " +
      "versions; a crash mid-slice resumes inside the slice") {
    import graft.ops.CdcOps
    val ss = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("feedb_").toString)
    val ck = java.nio.file.Files.createTempDirectory("feedb_ck_").toString
    // a month-of-ingest-shaped backlog: 10 append versions
    (1 to 10).foreach(i => if (i == 1)
      ss.commitOverwrite("t", Seq((i.toLong % 3, i.toLong)).toDF("g", "m"))
    else ss.commitAppend("t", Seq((i.toLong % 3, i.toLong)).toDF("g", "m")))
    def fold(ch: org.apache.spark.sql.DataFrame, v: Long): Unit =
      CdcOps.foldSumViewStep(ss, "v", Seq("g"), "m", ch, v): Unit
    def viewRows = ss.readTable("v", "agg")
      .select("g", "sum_m", "n_rows").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // slice 1: exactly 3 versions, no more
    assert(StreamOps.drainChangeFeed(ss, "t", ck,
      maxVersionsPerTrigger = Some(3))(fold) === Seq(1L, 2L, 3L))
    // slice 2 CRASHES at its middle version (5): 4 is consumed and
    // checkpointed, 5 is not — the next slice resumes AT 5
    intercept[RuntimeException](StreamOps.drainChangeFeed(ss, "t", ck,
      maxVersionsPerTrigger = Some(3)) { (ch, v) =>
        if (v == 5L) throw new RuntimeException("died mid-slice")
        fold(ch, v)
      })
    assert(StreamOps.drainChangeFeed(ss, "t", ck,
      maxVersionsPerTrigger = Some(3))(fold) === Seq(5L, 6L, 7L))
    // remaining slices drain the tail; a bounded drain past the head
    // delivers only what exists
    assert(StreamOps.drainChangeFeed(ss, "t", ck,
      maxVersionsPerTrigger = Some(3))(fold) === Seq(8L, 9L, 10L))
    assert(StreamOps.drainChangeFeed(ss, "t", ck,
      maxVersionsPerTrigger = Some(3))((_, _) =>
      fail("drained dry — must not be invoked")).isEmpty)
    // convergence: ≡ the UNBOUNDED drain into a fresh view
    val ck2 = java.nio.file.Files.createTempDirectory("feedb_ck2_").toString
    val ss2 = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("feedb2_").toString)
    (1 to 10).foreach(i => if (i == 1)
      ss2.commitOverwrite("t", Seq((i.toLong % 3, i.toLong)).toDF("g", "m"))
    else ss2.commitAppend("t", Seq((i.toLong % 3, i.toLong)).toDF("g", "m")))
    StreamOps.drainChangeFeed(ss2, "t", ck2) { (ch, v) =>
      CdcOps.foldSumViewStep(ss2, "v", Seq("g"), "m", ch, v): Unit
    }
    assert(viewRows === ss2.readTable("v", "agg")
      .select("g", "sum_m", "n_rows").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    // guard: a zero/negative bound is a bug, not an empty drain
    intercept[IllegalArgumentException](StreamOps.drainChangeFeed(
      ss, "t", ck, maxVersionsPerTrigger = Some(0))(fold))
  }

  test("X62d-stream: versionedComponentsSink — first batch builds, each " +
      "later batch is one atomic CASed version; OUT-OF-ORDER batches " +
      "converge (min-label reconciliation is commutative); redelivery " +
      "commits nothing; a dead claim self-heals; mid-stream versions " +
      "time-travel; final state ≡ batch-built from-scratch") {
    implicit val sc = spark.sqlContext
    import graft.ops.SimilarityOps
    val ss = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("cc_vsink_").toString)
    val ck = java.nio.file.Files.createTempDirectory("cc_vck_").toString
    // three edge batches, deliberately NOT in id order (batch 2 carries
    // the smallest node, relabeling {5,9} after the fact)
    val b1 = Seq((5L, 9L), (20L, 21L))
    val b2 = Seq((3L, 9L), (30L, 31L))
    val b3 = Seq((21L, 30L))
    def state(v: Option[Long] = None): Map[Long, Long] =
      SimilarityOps.readComponentsStateVersioned(ss, "cc", v)
        .as[(Long, Long)].collect().toMap
    try {
      val mem = MemoryStream[(Long, Long)]
      val q = StreamOps.versionedComponentsSink(ss, "cc", ck)(
        mem.toDF().toDF("a", "b"))
      try {
        mem.addData(b1: _*); q.processAllAvailable() // builds v1
        assert(ss.currentVersion("cc") === 1L)
        assert(state() === Map(5L -> 5L, 9L -> 5L, 20L -> 20L, 21L -> 20L))
        // a previous incarnation died between claim(v2) and the swap —
        // the sink must release its own dead claim and land the batch
        ss.claim("cc", 2L)
        mem.addData(b2: _*); q.processAllAvailable() // v2 (self-healed)
        assert(ss.currentVersion("cc") === 2L, "dead claim must self-heal")
        mem.addData(b3: _*); q.processAllAvailable() // v3
        assert(ss.currentVersion("cc") === 3L)
        mem.addData(b2: _*); q.processAllAvailable() // redelivery
        assert(ss.currentVersion("cc") === 3L,
          "a redelivered batch must not even commit a version")
      } finally q.stop()
      // streamed state ≡ from-scratch CC over the union of all edges
      val scratch = SimilarityOps.connectedComponents(
        (b1 ++ b2 ++ b3).toDF("a", "b"))
      assert(state() === scratch.as[(Long, Long)].collect().toMap)
      graft.ops.RelOps.releaseCheckpoint(scratch)
      assert(state() === Map(3L -> 3L, 5L -> 3L, 9L -> 3L, 20L -> 20L,
        21L -> 20L, 30L -> 20L, 31L -> 20L))
      // mid-stream time travel: v1 = batch-1 labels, v2 adds 3 and 30,31
      assert(state(Some(1L)) ===
        Map(5L -> 5L, 9L -> 5L, 20L -> 20L, 21L -> 20L))
      assert(state(Some(2L)) === Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
        20L -> 20L, 21L -> 20L, 30L -> 30L, 31L -> 30L))
    } finally ss.dropCatalogTables("cc")
  }

  test("X32g/X68d-stream: versioned IVF + SemDeDup sinks — one atomic " +
      "version per batch, redelivery commits nothing, final state ≡ " +
      "from-scratch under the frozen centroids") {
    implicit val sc = spark.sqlContext
    import graft.ops.SimilarityOps
    val emb = env.embeddings.select($"vec_id".as("c_id"),
      org.apache.spark.sql.functions.transform($"embedding",
        x => x.cast("double")).as("ce"))
    val maxId = emb.agg(org.apache.spark.sql.functions.max("c_id"))
      .head().getLong(0)
    val (c1, c2) = (maxId * 3 / 5, maxId * 4 / 5)
    val corpus = emb.filter($"c_id" <= c1)
    val b1 = emb.filter($"c_id" > c1 && $"c_id" <= c2)
    val b2 = emb.filter($"c_id" > c2)
    def asVecs(df: org.apache.spark.sql.DataFrame): Seq[Vec] =
      df.as[(Long, Seq[Double])].collect().toSeq
        .map { case (id, v) => Vec(id, v) }
    // IVF
    val ssI = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("ivf_vsink_").toString)
    try {
      SimilarityOps.buildIvfIndexVersioned(ssI, "ivf", corpus)
      val ckI = java.nio.file.Files.createTempDirectory("ivf_vck_").toString
      val mem = MemoryStream[Vec]
      val q = StreamOps.versionedIvfIndexSink(ssI, "ivf", ckI)(mem.toDF())
      try {
        mem.addData(asVecs(b1): _*); q.processAllAvailable()
        mem.addData(asVecs(b2): _*); q.processAllAvailable()
        assert(ssI.currentVersion("ivf") === 3L)
        mem.addData(asVecs(b1): _*); q.processAllAvailable()
        assert(ssI.currentVersion("ivf") === 3L,
          "a redelivered batch must not even commit a version")
      } finally q.stop()
      val ref = SimilarityOps.assignCells(emb,
          ssI.readTable("ivf", "centroids"))
        .select($"c_id", $"cell".as("rcell"))
      val bad = ssI.readTable("ivf", "assigned").select("c_id", "cell")
        .join(ref, Seq("c_id"), "full_outer")
        .filter($"cell".isNull || $"rcell".isNull || $"cell" =!= $"rcell")
        .count()
      assert(bad === 0L)
    } finally ssI.dropCatalogTables("ivf")
    // SemDeDup
    val tau = 0.4
    val ssS = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("sd_vsink_").toString)
    try {
      SimilarityOps.buildSemDedupIndexVersioned(ssS, "sd", corpus,
        nClusters = 10, tau = tau)
      val ckS = java.nio.file.Files.createTempDirectory("sd_vck_").toString
      val mem = MemoryStream[Vec]
      val q = StreamOps.versionedSemDedupIndexSink(ssS, "sd", tau, ckS)(
        mem.toDF())
      try {
        mem.addData(asVecs(b1): _*); q.processAllAvailable()
        mem.addData(asVecs(b2): _*); q.processAllAvailable()
        assert(ssS.currentVersion("sd") === 3L)
        mem.addData(asVecs(b1): _*); q.processAllAvailable()
        assert(ssS.currentVersion("sd") === 3L,
          "a redelivered batch must not even commit a version")
      } finally q.stop()
      val reference = SimilarityOps.semDedupWithCentroids(
        emb, ssS.readTable("sd", "centroids"), tau)
        .select($"c_id", $"cell".as("rcell"), $"owner".as("rowner"),
          $"dropped".as("rdropped"))
      val mismatched = ssS.readTable("sd", "assigned")
        .select("c_id", "cell", "owner", "dropped")
        .join(reference, Seq("c_id"), "full_outer")
        .filter($"cell".isNull || $"rcell".isNull ||
          $"cell" =!= $"rcell" || $"dropped" =!= $"rdropped" ||
          !($"owner" <=> $"rowner")).count()
      assert(mismatched === 0L)
      assert(ssS.readTable("sd", "assigned").count() === emb.count())
      // a FRESH id below the high-water mark must fail the query loudly
      // and commit nothing
      val ck2 = java.nio.file.Files.createTempDirectory("sd_vck2_").toString
      val mem2 = MemoryStream[Vec]
      val q2 = StreamOps.versionedSemDedupIndexSink(ssS, "sd", tau, ck2)(
        mem2.toDF())
      try {
        mem2.addData(Vec(-1L, Seq.fill(64)(0.5)))
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q2.processAllAvailable()
        }
      } finally q2.stop()
      assert(ssS.currentVersion("sd") === 3L)
    } finally ssS.dropCatalogTables("sd")
  }

  test("X96-stream: dqGatedVersionedSink — a clean batch commits data + " +
      "report atomically; a violating batch commits ONLY its report " +
      "(the veto); redelivery commits nothing") {
    implicit val sc = spark.sqlContext
    import graft.ops.DqOps
    val ss = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("dq_sink_").toString)
    val ck = java.nio.file.Files.createTempDirectory("dq_ck_").toString
    val checks: Seq[DqOps.Check] = Seq(
      DqOps.Bounds("value", 0.0, 100.0, minRatio = 1.0),
      DqOps.Completeness("value", minRatio = 1.0))
    val mem = MemoryStream[Ev]
    val q = StreamOps.dqGatedVersionedSink(ss, "gated", checks, ck)(
      mem.toDF())
    def dataIds = ss.readTable("gated", "data").select("event_id")
      .as[Long].collect().toSet
    def ledger = ss.readTable("gated", "dq")
      .select("batch_id", "check", "passed")
      .as[(Long, String, Boolean)].collect().toSet
    try {
      // batch 0: clean — data + report land as v1
      mem.addData(Ev(1L, t(1), 10.0), Ev(2L, t(1), 20.0))
      q.processAllAvailable()
      assert(ss.currentVersion("gated") === 1L)
      assert(dataIds === Set(1L, 2L))
      assert(ledger.forall(_._3), s"clean batch must pass: $ledger")
      // batch 1: one out-of-bounds row — the WHOLE batch is vetoed; its
      // report (with the failing check) is the only thing that lands
      mem.addData(Ev(3L, t(2), 30.0), Ev(4L, t(2), 500.0))
      q.processAllAvailable()
      assert(ss.currentVersion("gated") === 2L)
      assert(dataIds === Set(1L, 2L), "vetoed rows must not land")
      assert(ledger.exists(r => r._1 === 1L && !r._3),
        s"the violation must be on the ledger: $ledger")
      // redelivery of batch 0 (same batch_id via checkpoint replay is
      // modeled by the seen-guard): nothing commits
      val before = ss.currentVersion("gated")
      mem.addData(Ev(5L, t(3), 50.0))
      q.processAllAvailable()
      assert(ss.currentVersion("gated") === before + 1)
      assert(dataIds === Set(1L, 2L, 5L))
    } finally q.stop()
    // the veto is rollback-free by construction, but history stays
    // auditable: v2 (the vetoed batch) reads back with EMPTY data and
    // the failing report
    assert(ss.readTableVersion("gated", 2L, "data").count() ===
      ss.readTableVersion("gated", 1L, "data").count())
    assert(ss.readTableVersion("gated", 2L, "dq")
      .filter($"batch_id" === 1L && !$"passed").count() > 0)
  }

  test("X142s: ivmSink — each batch lands atomically in the source group " +
      "and the view refreshes from its changelog; the ingest-then-crash " +
      "seam heals without double-counting; view time-travels per batch") {
    implicit val sc = spark.sqlContext
    val ss = new graft.sources.SnapshotStore(spark,
      java.nio.file.Files.createTempDirectory("ivm_sink_").toString)
    val ck = java.nio.file.Files.createTempDirectory("ivm_ck_").toString
    val mem = MemoryStream[Ev]
    val q = StreamOps.ivmSink(ss, "s", "v", Seq("g"), "m", ck)(
      mem.toDF().select(($"event_id" % 3).as("g"), $"value".as("m")))
    def viewRows = ss.readTable("v", "agg")
      .select("g", "sum_m", "n_rows") // the NULL-exactness n_vals column
                                      // is invisible to this contract
      .as[(Long, Double, Long)].collect().toSet
    def scratchAt(v: Long) = ss.readTableVersion("s", v, "data")
      .groupBy("g").agg(functions.sum($"m").as("s"),
        functions.count(functions.lit(1)).as("n"))
      .as[(Long, Double, Long)].collect().toSet
    try {
      mem.addData(Ev(1L, t(1), 10.0), Ev(2L, t(1), 20.0), Ev(3L, t(1), 30.0))
      q.processAllAvailable() // batch 0
      assert(ss.currentVersion("s") === 1L && ss.currentVersion("v") === 1L)
      assert(viewRows === scratchAt(1L))
      mem.addData(Ev(4L, t(2), 5.0))
      q.processAllAvailable() // batch 1
      assert(ss.currentVersion("s") === 2L && ss.currentVersion("v") === 2L)
      assert(viewRows === scratchAt(2L))
      // the ingest-then-crash seam: batch 2's FIRST half (source commit,
      // meta = 2) landed but the incarnation died before the refresh.
      // The redelivered batch must ingest NOTHING (seen-guard) and the
      // refresh must fold the pending source version exactly once.
      ss.commitTables("s",
        appends = Map("data" -> Seq((0L, 100.0), (1L, 7.0)).toDF("g", "m")),
        overwrites = Map("meta" -> spark.range(1)
          .select(functions.lit(2L).as("last_batch_id"))))
      mem.addData(Ev(3L, t(3), 100.0), Ev(4L, t(3), 7.0)) // becomes batch 2
      q.processAllAvailable()
      assert(ss.currentVersion("s") === 3L,
        "the redelivered batch must not re-ingest")
      assert(viewRows === scratchAt(3L),
        "the refresh folds the crashed batch exactly once")
      // the view's own history time-travels per micro-batch
      assert(ss.readTableVersion("v", 1L, "agg")
        .select("g", "sum_m", "n_rows")
        .as[(Long, Double, Long)].collect().toSet === scratchAt(1L))
    } finally q.stop()
  }

  test("X24: duplicate ids within the watermark horizon are suppressed") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val dedup = StreamOps.dedupWithinWatermark("event_id", "ts", "10 minutes")(
      mem.toDF())
    val q = dedup.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("x24_out").start()
    try {
      mem.addData(Ev(7, t(1), 1.0), Ev(7, t(2), 2.0)) // dup in same batch
      q.processAllAvailable()
      mem.addData(Ev(7, t(3), 3.0))                   // dup across batches
      q.processAllAvailable()
      assert(spark.table("x24_out").count() === 1)
    } finally q.stop()
  }
}
