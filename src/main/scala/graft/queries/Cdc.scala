package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Sessions, Tables}
import graft.cdc.{JsonFlatten, NameNormalizer, PkExtractor}
import graft.functions.SmartTimestamp.smart_timestamp
import graft.streaming.{CdcStream, StreamTuning}

/** CDC-plane operators (SURVEY §2.3 F13-F20, §2.7) exercised as batch
  * queries over the `events` table — the same transform functions are
  * wired into the Structured Streaming path in [[graft.streaming.CdcStream]].
  */
object Cdc {

  /** Pin every file under `dir` to modification time `t` — the
    * FileStreamSource orders files by mtime, and the x190/x191 gates
    * need the sentinel batch delivered strictly LAST (a filesystem
    * with coarse mtime granularity could otherwise tie the sequential
    * writes and deliver the watermark sentinel before real data,
    * silently dropping finalized-window rows). Explicit stamps make
    * batch order a stated property instead of a timing accident. */
  private def stampMtime(s: org.apache.spark.sql.SparkSession,
                         dir: String, t: Long): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.listStatus(p).foreach(st => if (st.isFile) fs.setTimes(st.getPath, t, -1))
  }

  /** Split instant for the x192 staging: the latest click that STRICTLY
    * follows its attributed impression — splitting the files there puts
    * that click's impression in batch 0 and the click itself in batch 1,
    * so at least one attributed pair provably crosses the micro-batch
    * boundary (the join-state property the gate exists to exercise).
    * Falls back to the corpus midpoint when no strict pair exists.
    * A 1-row metadata read (max over the batch pair join), not data. */
  private[queries] def ssjMid(imp: DataFrame, clk: DataFrame): java.sql.Timestamp = {
    val strict = imp.join(clk, expr(
        """imp_user = click_user AND click_ts > imp_ts AND
           click_ts <= imp_ts + INTERVAL 1 HOUR"""))
      .agg(max("click_ts")).collect()(0)
    if (!strict.isNullAt(0)) strict.getTimestamp(0)
    else {
      val row = imp.select(col("imp_ts").as("ts"))
        .unionByName(clk.select(col("click_ts").as("ts")))
        .agg(min("ts"), max("ts")).collect()(0)
      // both inputs empty → the min/max aggregates are NULL; fail with a
      // clear message instead of an NPE on .getTime
      require(!row.isNullAt(0) && !row.isNullAt(1),
        "ssjMid: both impression and click inputs are empty — " +
          "cannot derive a micro-batch split instant")
      val (lo, hi) = (row.getTimestamp(0).getTime, row.getTimestamp(1).getTime)
      new java.sql.Timestamp(lo + (hi - lo) / 2)
    }
  }

  /** Stage micro-batch files (b0, b1, …) with strictly ascending
    * mtimes, anchored at "now" so the file source's maxFileAge window
    * is irrelevant. ONE definition for all four streaming gates
    * (x190/x191/x192/x198) — the mtime-laddering discipline is the
    * part that must stay in lockstep across them. */
  private def stageStreamBatches(s: org.apache.spark.sql.SparkSession,
                                 in: String, batches: Seq[DataFrame]): Unit = {
    val base = System.currentTimeMillis()
    batches.zipWithIndex.foreach { case (df, i) =>
      df.coalesce(1).write.parquet(s"$in/b$i")
      stampMtime(s, s"$in/b$i", base + i * 60000L)
    }
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // F16 (`mongo_postgres_cdc.py:295`): JSON payload parse.
    "f16_json_parse" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("payload",
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")))
        .select(col("event_id"), col("payload.k").as("k"))
        .orderBy("event_id")),

    // F15/F17 (`mongo_postgres_cdc.py:90-112,165-197`): recursive struct
    // flatten with depth cap — depth-2 scalars expand to parent_child
    // columns, the depth-3 struct serializes to JSON.
    "f17_flatten_struct" -> ((s, d) => {
      val nested = Tables.events(s, d).select(
        col("event_id"),
        struct(
          col("user_id"),
          struct(
            col("event_type").as("type"),
            struct(col("event_type").as("t")).as("lvl3")).as("lvl2")).as("payload"))
      JsonFlatten.flatten(nested).orderBy("event_id")
    }),

    // F18/F20 (`mongo_postgres_cdc.py:216-224,311-332`): name normalization
    // + reserved/collision rename as one schema pass.
    "f18_normalize_names" -> ((s, d) =>
      NameNormalizer(
        Tables.customer(s, d).toDF("C-CustKey", "C Name", "Select", "9nation", "c custkey"))
        .orderBy("c_custkey")),

    // F19 (`mongo_postgres_cdc.py:199-214`): primary-key extraction.
    "f19_pk_extract" -> ((s, d) =>
      PkExtractor.withPrimaryKey(
        Tables.events(s, d).select("event_id", "user_id", "event_type"))
        .orderBy("event_id")),

    // F13 (`mongo_postgres_cdc.py:144-156`): epoch-magnitude detection via
    // the native SmartTimestamp expression (codegen'd, no UDF).
    "f13_smart_timestamp" -> ((s, d) =>
      Tables.events(s, d)
        .withColumn("epoch_s", unix_timestamp(col("ts")))
        .select(
          col("event_id"),
          col("epoch_s"),
          smart_timestamp(col("epoch_s")).as("ts_from_s"),
          smart_timestamp(col("epoch_s") * 1000 + 123).as("ts_from_ms"),
          smart_timestamp(col("event_id")).as("ts_invalid"))
        .orderBy("event_id")),

    // T4 (batch semantics of [[graft.streaming.EventAggregates]]):
    // tumbling daily windows — the same plan the streaming path runs.
    "t2_tumbling_window" -> ((s, d) =>
      graft.streaming.EventAggregates.tumblingCounts(
        Tables.events(s, d).drop("props"), "1 day")
        .orderBy("win_start", "event_type")),

    // X215 (T4 promoted end-to-end): the SAME tumblingCounts plan
    // driven through the REAL streaming machinery — file-stream source
    // (one file per micro-batch), event-time watermark, APPEND-mode
    // window finalization into a parquet FileStreamSink, read back and
    // hashed against t2's oracle. What this proves that t2's batch
    // semantics cannot: windows cross micro-batch state, emit ONLY
    // when the watermark passes their end (a sentinel event 4 days
    // past max(ts) advances the watermark so every real window
    // finalizes; its own window never can and is filtered
    // defensively), and the sink's exactly-once file log serves the
    // read-back. At 100 TB this is the nightly-backfill-equals-stream
    // contract: one plan, two execution modes, one hash.
    "x190_stream_tumbling" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val scratch = java.nio.file.Files.createTempDirectory("graft_stum_")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile): Unit))
      val in = scratch.toString + "/in"
      val out = scratch.toString + "/out"
      // streaming watermarks require TIMESTAMP (LTZ) — cast under the
      // session's UTC zone (lossless both ways; the output converts
      // back to NTZ so the written result matches the batch t2 oracle)
      val ev = Tables.events(s, d).drop("props")
        .withColumn("ts", col("ts").cast("timestamp"))
      // two data batches (cross-batch window state) + the watermark
      // sentinel, delivered strictly last via explicit mtime stamps
      stageStreamBatches(s, in, Seq(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 =!= 0),
        ev.orderBy(desc("ts")).limit(1)
          .select(lit(-1L).as("event_id"), lit(-1L).as("user_id"),
            lit("__sentinel").as("event_type"),
            (col("ts") + expr("INTERVAL 4 DAYS")).as("ts"),
            lit(0.0).as("value"))
          .select(ev.columns.map(col): _*)))
      // state partitions sized from the staged volume (StreamTuning:
      // streams can't AQE-coalesce; at gate scale 32 near-empty state
      // stores dominated every micro-batch — ~2 s per 0-row batch),
      // set on a clone: other queries may be planning on `s` meanwhile
      val ss = Sessions.withConf(s, "spark.sql.shuffle.partitions" ->
        StreamTuning.inputSizedShufflePartitions(s, Seq(in)).toString)
      graft.streaming.EventAggregates.tumblingCounts(
          ss.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1).parquet(in + "/*"), "1 day")
        .writeStream.outputMode("append")
        .option("checkpointLocation", scratch.toString + "/ckpt")
        .format("parquet").option("path", out)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      s.read.parquet(out)
        .filter(col("event_type") =!= "__sentinel")
        .withColumn("win_start", col("win_start").cast("timestamp_ntz"))
        .orderBy("win_start", "event_type")
    }),

    // T-extension: SLIDING windows (1-day window, 6-hour slide) — each
    // event lands in exactly 4 epoch-aligned windows; batch semantics
    // of the same plan the streaming path runs. The oracle expands the
    // 4 covering starts per event explicitly (bucket(ts) − k·6h,
    // k = 0..3), which IS the window-assignment rule Spark applies.
    "t5_sliding_window" -> ((s, d) =>
      graft.streaming.EventAggregates.slidingCounts(
        Tables.events(s, d).drop("props"), "1 day", "6 hours")
        .orderBy("win_start", "event_type")),

    // T4: session windows (1-hour gap) per user, batch semantics.
    "t3_session_window" -> ((s, d) =>
      graft.streaming.EventAggregates.sessionized(
        Tables.events(s, d).drop("props"), "1 hour")
        .orderBy(asc_nulls_first("user_id"), col("session_start"))),

    // X216 (T4-sessions promoted end-to-end, the x190 pattern): the
    // SAME sessionized plan t3 batch-checks, driven through the real
    // streaming machinery — sessions MERGE across micro-batches in the
    // session_window state store (the property a batch check cannot
    // exercise: half a user's session arrives in batch 0, the rest in
    // batch 1, and the state must fuse them before the watermark
    // finalizes), append-mode into a FileStreamSink, read back and
    // hashed against t3's oracle verbatim. The sentinel (user −1,
    // 4 days past max ts) advances the watermark so every real
    // session closes; its own session never can and is filtered.
    "x191_stream_sessions" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val scratch = java.nio.file.Files.createTempDirectory("graft_ssess_")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile): Unit))
      val in = scratch.toString + "/in"
      val out = scratch.toString + "/out"
      val ev = Tables.events(s, d).drop("props")
        .withColumn("ts", col("ts").cast("timestamp"))
      stageStreamBatches(s, in, Seq(
        ev.filter(col("event_id") % 2 === 0),
        ev.filter(col("event_id") % 2 =!= 0),
        ev.orderBy(desc("ts")).limit(1)
          .select(lit(-1L).as("event_id"), lit(-1L).as("user_id"),
            lit("__sentinel").as("event_type"),
            (col("ts") + expr("INTERVAL 4 DAYS")).as("ts"),
            lit(0.0).as("value"))
          .select(ev.columns.map(col): _*)))
      // input-sized state partitions (see x190 / StreamTuning)
      val ss = Sessions.withConf(s, "spark.sql.shuffle.partitions" ->
        StreamTuning.inputSizedShufflePartitions(s, Seq(in)).toString)
      graft.streaming.EventAggregates.sessionized(
          ss.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1).parquet(in + "/*"), "1 hour")
        .writeStream.outputMode("append")
        .option("checkpointLocation", scratch.toString + "/ckpt")
        .format("parquet").option("path", out)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      s.read.parquet(out)
        .filter(col("user_id").isNull || col("user_id") =!= -1L)
        .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
        .withColumn("session_end", col("session_end").cast("timestamp_ntz"))
        .orderBy(asc_nulls_first("user_id"), col("session_start"))
    }),

    // T6 extension (batch semantics of [[graft.streaming.StreamJoin]]):
    // event-time interval join — every view→click pair per user within
    // one hour. The SAME function runs as a watermarked stream-stream
    // join (StreamJoinSpec); here the watermark is a no-op and the plan
    // is a per-user range join the oracle reproduces directly.
    "t4_interval_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val imp = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("imp_id"), col("user_id").as("imp_user"),
          col("ts").as("imp_ts"))
      val clk = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
          col("ts").as("click_ts"))
      graft.streaming.StreamJoin.attributedClicks(imp, clk, "1 hour")
        .select("imp_id", "click_id", "imp_user")
        .orderBy("imp_id", "click_id")
    }),

    // X217 (T6 promoted end-to-end, completing the x181/x190/x191
    // lifecycle set): the SAME attributedClicks plan t4 batch-checks,
    // driven as a REAL watermarked stream-stream join — two independent
    // file-stream sources (impressions and clicks), each delivered in
    // two event-time-ordered micro-batch files split at an instant
    // chosen so ≥1 attributed pair STRADDLES the boundary ([[ssjMid]]),
    // so that pair's impression MUST survive in the join state store
    // across micro-batches to appear in the output. Inner stream-stream joins
    // emit eagerly in append mode (no sentinel needed); the watermarks
    // plus the 1-hour interval condition bound per-side state — the
    // eviction math: after batch 0 the global watermark is
    // ~mid − 2 h, so only impressions with imp_ts + 1 h < mid − 2 h
    // are evicted, and every click they could match arrived in batch 0
    // (clicks ≤ imp_ts + 1 h < mid). Hashed against t4's oracle
    // verbatim: one plan, two execution modes, one hash. At 100 TB this
    // is the live-attribution contract — state ∝ one interval of
    // traffic per side, never stream history.
    "x192_stream_join" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val scratch = java.nio.file.Files.createTempDirectory("graft_ssj_")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile): Unit))
      val out = scratch.toString + "/out"
      val ev = Tables.events(s, d)
        .withColumn("ts", col("ts").cast("timestamp"))
      val imp = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("imp_id"), col("user_id").as("imp_user"),
          col("ts").as("imp_ts"))
      val clk = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
          col("ts").as("click_ts"))
      // split instant chosen so ≥1 attributed pair straddles the batch
      // boundary — see [[ssjMid]] (1-row metadata read, not data)
      val mid = ssjMid(imp, clk)
      stageStreamBatches(s, scratch.toString + "/imp", Seq(
        imp.filter(col("imp_ts") < lit(mid)),
        imp.filter(col("imp_ts") >= lit(mid))))
      stageStreamBatches(s, scratch.toString + "/clk", Seq(
        clk.filter(col("click_ts") < lit(mid)),
        clk.filter(col("click_ts") >= lit(mid))))
      // input-sized state partitions (see x190 / StreamTuning) — the
      // stream-stream join keeps TWO state stores per partition, so the
      // per-partition fixed cost is heaviest on this row
      val ss = Sessions.withConf(s, "spark.sql.shuffle.partitions" ->
        StreamTuning.inputSizedShufflePartitions(s,
          Seq(scratch.toString + "/imp", scratch.toString + "/clk")).toString)
      val impS = ss.readStream.schema(imp.schema)
        .option("maxFilesPerTrigger", 1).parquet(scratch.toString + "/imp/*")
      val clkS = ss.readStream.schema(clk.schema)
        .option("maxFilesPerTrigger", 1).parquet(scratch.toString + "/clk/*")
      graft.streaming.StreamJoin.attributedClicks(impS, clkS, "1 hour")
        .select("imp_id", "click_id", "imp_user")
        .writeStream.outputMode("append")
        .option("checkpointLocation", scratch.toString + "/ckpt")
        .format("parquet").option("path", out)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      s.read.parquet(out).orderBy("imp_id", "click_id")
    }),

    // X223 (X25 promoted end-to-end): `StreamDedup.dedupOnIngest` —
    // the stream-static anti-join against the historical corpus PLUS
    // `dropDuplicatesWithinWatermark` on the content fingerprint —
    // driven through the real machinery. Two micro-batch files:
    // batch 0 = the stream documents (synthetic event times), batch 1 =
    // CLONES of every 7th stream doc (same text, negated ids, later
    // event time) — each clone's fingerprint entered the dedup state in
    // batch 0, so its rejection in batch 1 is only possible if that
    // state SURVIVED the micro-batch boundary (a re-emit would land a
    // duplicate fp row and break the hash). Output is the fp column
    // alone: which physical duplicate of a same-batch pair is kept is
    // arrival-order nondeterminism the fingerprint projection erases.
    // The oracle is the batch truth: distinct stream fps EXCEPT
    // historical fps. The 30-day watermark delay exceeds the staged
    // event-time span, so no state expires mid-test (production sizes
    // this TTL from x174's re-occurrence horizon audit). At 100 TB/day
    // the anti-join side is a pruned one-column scan and dedup state
    // is watermark-bounded — never corpus-bounded.
    "x198_stream_dedup" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val scratch = java.nio.file.Files.createTempDirectory("graft_sdd_")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile): Unit))
      val in = scratch.toString + "/in"
      val out = scratch.toString + "/out"
      val docs = Tables.documents(s, d)
      val hist = docs.filter(pmod(col("doc_id"), lit(3L)) === 0).select("text")
      val strm = docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0)
        .select(col("doc_id"), col("text"),
          expr("timestamp_micros(946684800000000 + doc_id * 1000000)").as("ts"))
      val clones = strm.filter(pmod(col("doc_id"), lit(7L)) === 1)
        .select((-col("doc_id")).as("doc_id"), col("text"),
          expr("timestamp_micros(946684800000000 + (1000000 + doc_id) * 1000000)")
            .as("ts"))
      stageStreamBatches(s, in, Seq(strm, clones))
      // Watermark delay DERIVED from the staged span, not a constant:
      // ts = epoch + doc_id s and clones land at epoch + (1e6 + doc_id) s,
      // so a fixed 30-day delay only outlives batch 0's dedup state while
      // max doc_id < ~2.59M — at a larger scale factor low-id clone
      // sources would expire after batch 0 and re-emit, breaking the hash
      // gate silently. Covering the full staged span (+1 h margin) keeps
      // every batch-0 fingerprint alive until its batch-1 clone arrives
      // at ANY scale factor. 1-row metadata read, same discipline as
      // ssjMid above.
      val maxId = strm.agg(max("doc_id")).collect()(0).getLong(0)
      val delaySec = maxId + 1000000L + 3600L
      // input-sized state partitions (see x190 / StreamTuning)
      val ss = Sessions.withConf(s, "spark.sql.shuffle.partitions" ->
        StreamTuning.inputSizedShufflePartitions(s, Seq(in)).toString)
      val sread = ss.readStream.schema(strm.schema)
        .option("maxFilesPerTrigger", 1).parquet(in + "/*")
      graft.streaming.StreamDedup
        .dedupOnIngest(sread, hist, "text", "ts", s"$delaySec seconds")
        .select("fp")
        .writeStream.outputMode("append")
        .option("checkpointLocation", scratch.toString + "/ckpt")
        .format("parquet").option("path", out)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      s.read.parquet(out).orderBy("fp")
    }),

    // X67 promoted end-to-end (completing ALL FIVE stateful streaming
    // lifecycles: sink swap, tumbling, session-merge, join state, and —
    // here — TIMER-DRIVEN emission): `closedSessions`'
    // flatMapGroupsWithState + event-time timeout, driven through the
    // real machinery. What this proves that the batch t3 face cannot:
    // each session is emitted EXACTLY ONCE, finalized, when the
    // watermark passes its gap horizon — intra-batch gaps close
    // eagerly, open sessions close via the event-time TIMER the state
    // registered in an earlier micro-batch, and state is evicted on
    // close. Staging is TIME-split (not the x190 parity split):
    // `setTimeoutTimestamp` must exceed the current watermark, so
    // batches are event-time ordered — batch 1 carries only rows at or
    // after the split instant, keeping every timer registration above
    // the watermark batch 0 established. The sentinel (user −1, 4 days
    // past max ts) advances the watermark so every real session's
    // timer fires; its own session never can and is filtered
    // defensively. Hashed against t3's session_window oracle verbatim:
    // one sessionization, three execution faces (batch aggregate,
    // streamed aggregate, keyed state), one hash.
    "x220_stream_closed_sessions" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val scratch = java.nio.file.Files.createTempDirectory("graft_scls_")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        org.apache.commons.io.FileUtils.deleteQuietly(scratch.toFile): Unit))
      val in = scratch.toString + "/in"
      val out = scratch.toString + "/out"
      // closedSessions REQUIRES non-null user_id (keyed state needs a
      // key; the Long decode throws on NULL) — filter here AND in the
      // oracle (sessionOracleSql's x220 face), so the two engines agree
      // if the events table ever carries null users
      val ev = Tables.events(s, d).drop("props")
        .filter(col("user_id").isNotNull)
        .withColumn("ts", col("ts").cast("timestamp"))
      // corpus-midpoint split instant (1-row metadata read)
      val row = ev.agg(min("ts"), max("ts")).collect()(0)
      require(!row.isNullAt(0) && !row.isNullAt(1),
        "x220: events input is empty — cannot derive a split instant")
      val (lo, hi) = (row.getTimestamp(0).getTime, row.getTimestamp(1).getTime)
      val mid = new java.sql.Timestamp(lo + (hi - lo) / 2)
      stageStreamBatches(s, in, Seq(
        ev.filter(col("ts") < lit(mid)),
        ev.filter(col("ts") >= lit(mid)),
        ev.orderBy(desc("ts")).limit(1)
          .select(lit(-1L).as("event_id"), lit(-1L).as("user_id"),
            lit("__sentinel").as("event_type"),
            (col("ts") + expr("INTERVAL 4 DAYS")).as("ts"),
            lit(0.0).as("value"))
          .select(ev.columns.map(col): _*)))
      // input-sized state partitions (see x190 / StreamTuning)
      val ss = Sessions.withConf(s, "spark.sql.shuffle.partitions" ->
        StreamTuning.inputSizedShufflePartitions(s, Seq(in)).toString)
      graft.streaming.EventAggregates.closedSessions(
          ss.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1).parquet(in + "/*"),
          gapMs = 3600000L, watermark = "2 hours")
        .toDF()
        .writeStream.outputMode("append")
        .option("checkpointLocation", scratch.toString + "/ckpt")
        .format("parquet").option("path", out)
        .trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
      s.read.parquet(out)
        .filter(col("user_id").isNull || col("user_id") =!= -1L)
        .withColumn("session_start", col("session_start").cast("timestamp_ntz"))
        .withColumn("session_end", col("session_end").cast("timestamp_ntz"))
        .orderBy("user_id", "session_start")
    }),

    // §3.2 end-to-end: the full CDC batch shape (parse → flatten →
    // normalize → pk → metadata), minus the nondeterministic timestamp.
    "t_cdc_transform" -> ((s, d) => {
      val raw = Tables.events(s, d).select(
        to_json(struct(col("event_id"), col("user_id"), col("event_type"))).as("json"))
      CdcStream.transform(raw, org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, user_id BIGINT, event_type STRING"), "events")
        .drop("processed_at", CdcStream.ParseErrorCol)
        .orderBy("event_id")
    }))

  /** The gaps-and-islands batch sessionization — ONE definition for its
    * THREE faces (t3 batch `session_window`, x191 streamed aggregate,
    * x220 keyed state), so a future sessionization tweak cannot
    * desynchronize the "one sessionization, one hash" contract. The
    * x220 face filters NULL users on both engines (closedSessions
    * requires a key; the `session_window` faces group NULLs as a key). */
  private def sessionOracleSql(where: String = ""): String =
    s"""WITH m AS (SELECT user_id, ts, value,
                CASE WHEN lag(ts) OVER w IS NULL
                          OR ts - lag(ts) OVER w >= INTERVAL '1 hour' THEN 1 ELSE 0 END AS new_s
              FROM events $where WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
           s AS (SELECT user_id, ts, value,
                SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
              FROM m)
         SELECT min(ts) AS session_start, max(ts) + INTERVAL '1 hour' AS session_end,
                user_id, count(*) AS n_events,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM s GROUP BY user_id, sid
         ORDER BY user_id ASC NULLS FIRST, session_start"""

  def oracles: Map[String, String] = Map(
    "t2_tumbling_window" ->
      """SELECT time_bucket(INTERVAL '1 day', ts) AS win_start, event_type,
                count(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""",
    // the STREAM-executed plan must converge to the identical batch
    // answer (t2's oracle verbatim): one plan, two execution modes
    "x190_stream_tumbling" ->
      """SELECT time_bucket(INTERVAL '1 day', ts) AS win_start, event_type,
                count(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""",
    "t5_sliding_window" ->
      """WITH w AS (SELECT time_bucket(INTERVAL '6 hours', ts)
                            - k * INTERVAL '6 hours' AS win_start,
                          event_type, value
                    FROM events CROSS JOIN generate_series(0, 3) AS g(k))
         SELECT win_start, event_type, count(*) AS n,
                CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
         FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""",
    "t3_session_window" -> sessionOracleSql(),
    // the STREAM-executed session plan must converge to the identical
    // batch answer (t3's oracle verbatim) — cross-batch session merges
    // included
    "x191_stream_sessions" -> sessionOracleSql(),
    // the TIMER-driven keyed-state face must converge to the identical
    // batch sessionization — closed-once emission, cross-batch timers,
    // exact-cents totals included; null users filtered on both engines
    "x220_stream_closed_sessions" ->
      sessionOracleSql(where = "WHERE user_id IS NOT NULL"),
    "t4_interval_join" ->
      """WITH imp AS (SELECT event_id AS imp_id, user_id AS imp_user, ts AS imp_ts
                      FROM events WHERE event_type = 'view'),
            clk AS (SELECT event_id AS click_id, user_id AS click_user, ts AS click_ts
                    FROM events WHERE event_type = 'click')
         SELECT imp_id, click_id, imp_user
         FROM imp JOIN clk ON imp_user = click_user
                          AND click_ts >= imp_ts
                          AND click_ts <= imp_ts + INTERVAL 1 HOUR
         ORDER BY imp_id, click_id""",
    // the STREAM-executed stream-stream join must converge to the
    // identical batch interval join (t4's oracle verbatim) — cross-batch
    // join-state matches included
    "x192_stream_join" ->
      """WITH imp AS (SELECT event_id AS imp_id, user_id AS imp_user, ts AS imp_ts
                      FROM events WHERE event_type = 'view'),
            clk AS (SELECT event_id AS click_id, user_id AS click_user, ts AS click_ts
                    FROM events WHERE event_type = 'click')
         SELECT imp_id, click_id, imp_user
         FROM imp JOIN clk ON imp_user = click_user
                          AND click_ts >= imp_ts
                          AND click_ts <= imp_ts + INTERVAL 1 HOUR
         ORDER BY imp_id, click_id""",
    // batch truth for the streamed ingest-dedup: distinct stream
    // fingerprints minus the historical corpus's — the same md5 over
    // the same canonical form as graft.text.TextFunctions.fingerprint
    "x198_stream_dedup" ->
      """WITH hist AS (SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
                       FROM documents WHERE doc_id % 3 = 0),
              strm AS (SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
                       FROM documents WHERE doc_id % 3 <> 0)
         SELECT fp FROM (SELECT fp FROM strm EXCEPT SELECT fp FROM hist)
         ORDER BY fp""",
    "f16_json_parse" ->
      """SELECT event_id, CAST(json_extract(props, '$.k') AS INT) AS k
         FROM events ORDER BY event_id""",
    "f17_flatten_struct" ->
      """SELECT event_id, user_id AS payload_user_id, event_type AS payload_lvl2_type,
                '{"t":"' || event_type || '"}' AS payload_lvl2_lvl3
         FROM events ORDER BY event_id""",
    "f18_normalize_names" ->
      """SELECT c_custkey, c_name, c_nationkey AS select_1, c_acctbal AS col_9nation,
                c_mktsegment AS c_custkey_1
         FROM customer ORDER BY c_custkey""",
    "f19_pk_extract" ->
      """SELECT event_id, user_id, event_type, CAST(event_id AS VARCHAR) AS kafka_primary_key
         FROM events ORDER BY event_id""",
    "f13_smart_timestamp" ->
      """WITH e AS (SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s FROM events)
         SELECT event_id, epoch_s,
                make_timestamp(epoch_s * 1000000) AS ts_from_s,
                make_timestamp((epoch_s * 1000 + 123) * 1000) AS ts_from_ms,
                CAST(NULL AS TIMESTAMP) AS ts_invalid
         FROM e ORDER BY event_id""",
    "t_cdc_transform" ->
      """SELECT '{"event_id":' || event_id || ',"user_id":' || user_id
                || ',"event_type":"' || event_type || '"}' AS raw_data,
                event_id, user_id, event_type,
                CAST(event_id AS VARCHAR) AS kafka_primary_key,
                'events' AS kafka_topic
         FROM events ORDER BY event_id""")
}
