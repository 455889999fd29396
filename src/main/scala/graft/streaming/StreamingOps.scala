package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators for the ingest side of a training-data
  * pipeline. The reference has no streaming surface at all (SURVEY §2.10);
  * these are the extension operators a 100 TB corpus ingest needs:
  * exactly-once-ish dedup at the door, watermarked tumbling-window stats,
  * and custom keyed state.
  *
  * All three are standard `readStream → transform → writeStream` shapes:
  * state is partitioned by key across executors, watermarks bound state
  * size, and nothing touches the driver.
  */
object StreamingOps {

  /** On-disk input bytes per STATE partition — the streaming twin of
    * [[graft.SessionTuning.BytesPerShufflePartition]] (same measured
    * 2 MB/partition rate; keyed streaming state is bounded by the keys
    * the watermark keeps live, which the staged input bytes upper-bound
    * on these bounded drains).
    */
  val StateBytesPerPartition: Long = 2L << 20

  /** Floor on derived state partitions — enough parallelism for the
    * keyed state work while paying single-digit per-partition
    * provisioning/commit costs per micro-batch.
    */
  val MinStatePartitions: Int = 8

  /** Scale-adaptive STATE-partition count for a streaming start whose
    * input is `bytes` on disk. Round-19 generalization of the round-18
    * s11 finding (BASELINE.md "Round-19: s11 decomposed"): a stateful
    * operator provisions one state store per shuffle partition per
    * stateful operator (4 for a stream-stream join) and pays a
    * per-partition commit EVERY micro-batch, so at small state volume
    * the cost is linear in the partition count and dominates the drain
    * (s11: 7.8 s at 32 partitions vs 2.6 s at 8 for identical output).
    * State partitions must therefore track STATE VOLUME, not CPU count
    * — the same data-derived policy as
    * [[graft.SessionTuning.autoShufflePartitions]], with a floor below
    * the core count because provisioning cost, not parallelism, is the
    * binding constraint at small state. At 100 TB the same formula
    * simply derives a large count from the bytes.
    * `SPARK_GRAFT_STREAM_STATE_PARTITIONS` overrides (explicit beats
    * derived).
    */
  def statePartitionsForBytes(bytes: Long): Int =
    sys.env.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS") match {
      case Some(v) => v.trim.toInt
      case None =>
        val need =
          (bytes + StateBytesPerPartition - 1) / StateBytesPerPartition
        var p = 1L
        while (p < need) p <<= 1
        math.min(graft.SessionTuning.MaxPartitions.toLong,
          math.max(MinStatePartitions.toLong, p)).toInt
    }

  /** Run `body` (a streaming start + drain) with
    * `spark.sql.shuffle.partitions` scoped to the state-partition count
    * derived from the staged input paths' on-disk size, restoring the
    * session value after. Streaming queries pin the partition count at
    * checkpoint creation, so scoping the `start()`/`awaitTermination()`
    * region is exact; batch plans built after the drain see the
    * restored session value.
    */
  def withStatePartitions[T](spark: org.apache.spark.sql.SparkSession,
      stagedPaths: Seq[String])(body: => T): T = {
    val bytes = stagedPaths.map(graft.SessionTuning.dirBytes).sum
    val parts = statePartitionsForBytes(bytes)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      body
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Streaming exact dedup on `idCols` ALONE (a duplicate id with a
    * different event time is still a duplicate), with a watermark on
    * `tsCol` bounding the state store: `dropDuplicatesWithinWatermark`
    * (Spark 3.5+) keeps a key's state only until the watermark passes its
    * first-seen event time, so late duplicates beyond `delayThreshold`
    * age out instead of growing state forever — the required pattern for
    * unbounded streams.
    */
  def dedupStream(stream: DataFrame, tsCol: String, delayThreshold: String,
      idCols: Seq[String]): DataFrame =
    stream
      .withWatermark(tsCol, delayThreshold)
      .dropDuplicatesWithinWatermark(idCols)

  /** Watermarked tumbling-window aggregation (the streaming equivalent of
    * q12's batch day-bucketing): counts + sum per (window, key).
    */
  def windowedStats(stream: DataFrame, tsCol: String, keyCol: String,
      windowLen: String, delayThreshold: String): DataFrame =
    stream
      .withWatermark(tsCol, delayThreshold)
      .groupBy(window(col(tsCol), windowLen), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Event for the custom-state operator. */
  final case class KeyedEvent(key: String, value: Double)

  /** Running per-key aggregate state. */
  final case class RunningStat(key: String, n: Long, total: Double)

  /** Custom keyed state via `mapGroupsWithState`: a running (count, sum)
    * per key, emitted on every trigger — the `KeyValueGroupedDataset`
    * stateful-processing shape (SURVEY §2.10 notes the reference lacks
    * it; a real pipeline uses it for e.g. per-source quota tracking).
    */
  def runningStats(events: Dataset[KeyedEvent]): Dataset[RunningStat] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .mapGroupsWithState[RunningStat, RunningStat](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[KeyedEvent], state: GroupState[RunningStat]) =>
          val prev = state.getOption.getOrElse(RunningStat(key, 0L, 0.0))
          val next = rows.foldLeft(prev) { (acc, e) =>
            RunningStat(key, acc.n + 1, acc.total + e.value)
          }
          state.update(next)
          next
      }
  }

  /** Event for [[sessionize]]. */
  final case class SessionEvent(user: String, ts: java.sql.Timestamp)

  /** Open-session state kept per key between triggers. */
  final case class OpenSession(start: Long, end: Long, n: Long)

  /** A closed session. */
  final case class Session(user: String, start: java.sql.Timestamp,
      end: java.sql.Timestamp, n_events: Long)

  /** Gap-based sessionization — the canonical `flatMapGroupsWithState`
    * operator: events of a key belong to one session while consecutive
    * gaps stay ≤ `gapSeconds`; a session is emitted when a later event
    * opens the next one (in-batch gap) or when the EVENT-TIME TIMEOUT
    * fires (watermark passed `end + gap`, so no further event can extend
    * it). State per key is one `OpenSession` — constant size, watermark-
    * bounded lifetime; sessions close exactly once, in Append mode.
    */
  def sessionize(events: Dataset[SessionEvent], gapSeconds: Long,
      delayThreshold: String): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapSeconds * 1000
    events
      .withWatermark("ts", delayThreshold)
      .groupByKey(_.user)
      .flatMapGroupsWithState[OpenSession, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: String, rows: Iterator[SessionEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(user, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.end), s.n))
          } else {
            val times = rows.map(_.ts.getTime).toArray.sorted
            val closed = scala.collection.mutable.ArrayBuffer[Session]()
            var cur = state.getOption
            for (t <- times) cur = cur match {
              case None => Some(OpenSession(t, t, 1))
              case Some(s) if t > s.end + gapMs =>
                // Gap after the open session: close it, open the next.
                closed += Session(user, new java.sql.Timestamp(s.start),
                  new java.sql.Timestamp(s.end), s.n)
                Some(OpenSession(t, t, 1))
              case Some(s) if t < s.start - gapMs =>
                // Cross-batch late event disjoint from (strictly more than
                // one gap BEFORE) the open session: it belongs to an
                // already-gone session window, so emit it as its own
                // closed singleton rather than silently absorbing it into
                // a session it is not within a gap of (best-effort late
                // handling; exact merging would need unbounded state).
                closed += Session(user, new java.sql.Timestamp(t),
                  new java.sql.Timestamp(t), 1)
                Some(s)
              case Some(s) =>
                // Within one gap of the session (either side): extend.
                Some(OpenSession(math.min(s.start, t), math.max(s.end, t), s.n + 1))
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.end + gapMs)
            }
            closed.iterator
          }
      }
  }

  /** One (doc, band) bucket assignment for the streaming LSH near-dup
    * detector (produced by the narrow
    * [[graft.pipeline.Dedup.minHashBandBuckets]] map over the stream).
    */
  final case class BandEvent(id: Long, band: Int, bucket: Long)

  /** Bucket-membership state: the distinct doc ids seen in one
    * (band, bucket) — bounded by the band-bucket collision count, the
    * same quantity that bounds the BATCH LSH join's fan-out, so state
    * scales exactly as the batch operator's shuffle does.
    */
  final case class BucketState(ids: Array[Long])

  /** A candidate near-dup pair (`id_a < id_b`), possibly emitted by
    * several bands — dedup downstream, as batch LSH dedups its
    * candidate join.
    */
  final case class CandPair(id_a: Long, id_b: Long)

  /** Streaming MinHash-LSH candidate generation — dedup-at-ingest, the
    * streaming twin of the batch band-bucket self-join: per
    * (band, bucket) key, `flatMapGroupsWithState` holds the distinct
    * member ids and emits each NEW id paired against every existing
    * member. Each unordered pair within a bucket is emitted exactly
    * once (when the later of its two docs arrives), so the emitted
    * pair SET equals the batch self-join's output for the same input
    * regardless of arrival order or batch boundaries — streaming ==
    * batch exactly after the downstream pair-dedup + verify
    * ([[graft.pipeline.Dedup.verifyJaccardPairs]]), which is how the
    * s14 oracle (p05's SQL verbatim) gates it.
    *
    * No timeout: a corpus-dedup bucket must remember its members for
    * the stream's lifetime (state ≈ one long per doc per band — for
    * bounded-window dedup compose with an event-time timeout the way
    * [[sessionize]] does).
    *
    * `maxBucket` caps the hot-bucket hazard (the streaming twin of
    * [[graft.pipeline.Dedup.cappedJaccardPairs]]'s df cap): a bucket
    * that already holds `maxBucket` members ACCEPTS NO new ids — no
    * state growth, no pair emission from that bucket — so per-bucket
    * state is ≤ `maxBucket` longs and a single arrival emits at most
    * `maxBucket − 1` pairs, where an uncapped boilerplate bucket
    * (every doc sharing one chrome band-signature) pays O(members)
    * state and O(members²) lifetime pair fan-out. Semantics mirror the
    * batch cap's: the capped pair set is a SUBSET of the uncapped one
    * for ANY arrival order (a saturated bucket only suppresses), and a
    * true near-dup pair lost to one saturated band still surfaces
    * through any of its other, unsaturated bands — the same
    * probabilistic recall argument as banding itself. Which ids occupy
    * a saturated bucket is first-arrival-determined (the one
    * order-dependent aspect, inherent to one-pass capping; the batch
    * cap sees all frequencies up front and picks deterministically).
    */
  def lshCandidatesStream(events: Dataset[BandEvent],
      maxBucket: Int = Int.MaxValue): Dataset[CandPair] = {
    require(maxBucket >= 1, s"maxBucket must be >= 1, got $maxBucket")
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.band, e.bucket))
      .flatMapGroupsWithState[BucketState, CandPair](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: (Int, Long), rows: Iterator[BandEvent], state: GroupState[BucketState]) =>
          var cur = state.getOption.map(_.ids).getOrElse(Array.empty[Long])
          val out = scala.collection.mutable.ArrayBuffer[CandPair]()
          rows.foreach { e =>
            if (!cur.contains(e.id) && cur.length < maxBucket) {
              cur.foreach { x =>
                out += (if (x < e.id) CandPair(x, e.id) else CandPair(e.id, x))
              }
              cur = cur :+ e.id
            }
          }
          state.update(BucketState(cur))
          out.iterator
      }
  }

  /** Pre-hashed event for the streaming cardinality sketch. */
  final case class SketchEvent(key: String, h: Long)

  /** Register state per key: the full HLL register array (256 ints,
    * constant size) plus the running row count.
    */
  final case class SketchState(registers: Array[Int], n_rows: Long)

  /** Per-key estimate emitted each trigger. */
  final case class SketchEstimate(key: String, n_rows: Long,
      est_distinct: Long)

  /** Streaming approximate-distinct per key — the register sketch of
    * [[graft.pipeline.Sketches]] held as `mapGroupsWithState` keyed
    * state. Because register MAX is commutative/associative and the
    * estimate is a pure function of the registers, the final emission
    * after draining any partition/batch interleaving is EXACTLY the
    * batch sketch of the same rows ([[graft.pipeline.Sketches.observe]]
    * / `estimateFromRegisters` are the bit-level twins of the batch
    * column math) — streaming == batch holds with no ordering caveat at
    * all, unlike float accumulators. State is 256 ints + a long per
    * key, constant for an unbounded stream.
    */
  def approxDistinctStream(events: Dataset[SketchEvent]):
      Dataset[SketchEstimate] = {
    import events.sparkSession.implicits._
    import graft.pipeline.Sketches
    events
      .groupByKey(_.key)
      .mapGroupsWithState[SketchState, SketchEstimate](
        GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[SketchEvent],
            state: GroupState[SketchState]) =>
          val st = state.getOption.getOrElse(
            SketchState(new Array[Int](Sketches.NumBuckets), 0L))
          var n = st.n_rows
          rows.foreach { e =>
            val (bucket, r) = Sketches.observe(e.h)
            if (r > st.registers(bucket)) st.registers(bucket) = r
            n += 1
          }
          val next = SketchState(st.registers, n)
          state.update(next)
          SketchEstimate(key, n,
            Sketches.estimateFromRegisters(next.registers))
      }
  }

  /** One Count-Min probe of one item occurrence (positions precomputed
    * upstream with the [[graft.pipeline.Sketches.countMinSketch]] probe
    * math, so batch and streaming share the identical cell layout).
    */
  final case class CellEvent(cm_row: Int, pos: Long)

  /** Live counter of one sketch cell. */
  final case class CellCount(cm_row: Int, pos: Long, cnt: Long)

  /** Streaming Count-Min: the frequency-sketch twin of
    * [[approxDistinctStream]]. Keyed state is ONE long per touched
    * (cm_row, pos) cell — the key space is bounded by depth × width
    * regardless of stream length, and counter addition is
    * commutative/associative, so the final drained counters equal the
    * batch sketch of the same rows EXACTLY under any batch/partition
    * interleaving (the same no-ordering-caveat argument as the register
    * MAX sketch). Emits the running count per cell each trigger; the
    * final (max) emission per cell is the complete sketch.
    */
  def countMinStream(cells: Dataset[CellEvent]): Dataset[CellCount] = {
    import cells.sparkSession.implicits._
    cells
      .groupByKey(e => (e.cm_row, e.pos))
      .mapGroupsWithState[Long, CellCount](GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), rows: Iterator[CellEvent], state: GroupState[Long]) =>
          val next = state.getOption.getOrElse(0L) + rows.size
          state.update(next)
          CellCount(key._1, key._2, next)
      }
  }

  /** One keyed sample candidate: content hash + tiebreaker id. */
  final case class BkEvent(key: String, h: Long, tie: Long)

  /** A sample member (hash, tiebreaker), ordered by (h, tie). */
  final case class BkItem(h: Long, tie: Long)

  /** Per-key bottom-k emission: the CURRENT sample after `n_seen` rows. */
  final case class BkSample(key: String, n_seen: Long, sample: Array[BkItem])

  /** Keyed state: cumulative row count + the current bottom-k items. */
  final case class BkState(n_seen: Long, items: Array[BkItem])

  /** Streaming bottom-k sample per key — the third mergeable-sketch twin
    * next to [[approxDistinctStream]] (HLL) and [[countMinStream]]
    * (Count-Min): keyed state is the current bottom-k set of
    * `(h, tie)` pairs (≤ k entries, constant for an unbounded stream).
    * "Bottom-k of a union = bottom-k of the parts' bottom-ks" is the
    * same order-free merge law the batch sketch's shard-merge spec pins
    * ([[graft.pipeline.Sketches.bottomKSample]]), so the final drained
    * sample equals the batch sample of the same rows EXACTLY under any
    * batch/partition interleaving — s12 passes p31's oracle SQL against
    * the batch formulation's DuckDB replay.
    */
  def bottomKStream(events: Dataset[BkEvent], k: Int): Dataset[BkSample] = {
    require(k >= 1, s"k must be >= 1, got $k")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.key)
      .mapGroupsWithState[BkState, BkSample](GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[BkEvent], state: GroupState[BkState]) =>
          val prev = state.getOption.getOrElse(BkState(0L, Array.empty))
          var n = prev.n_seen
          val batch = rows.map { e => n += 1; BkItem(e.h, e.tie) }.toArray
          val merged = (prev.items ++ batch).sortBy(i => (i.h, i.tie)).take(k)
          state.update(BkState(n, merged))
          // n_seen is strictly increasing across emissions, so the final
          // (complete) sample per key is the max_by(sample, n_seen) row
          // even if the drain splits into several update batches.
          BkSample(key, n, merged)
      }
  }

  /** Stream-stream interval join — the remaining first-class Structured
    * Streaming surface (joins between two UNBOUNDED sides): match each
    * left event to the right events of the same key whose event time
    * falls in `[left.ts - lookback, left.ts]` (attribution shape: a
    * purchase joins the views that preceded it within the window).
    *
    * Both sides carry a watermark and the join predicate carries the
    * time-range constraint — exactly the two conditions Spark needs to
    * BOUND the join state: each side's buffered rows are dropped once
    * the other side's watermark passes the end of their join window, so
    * state is O(events-per-watermark-window), constant for an unbounded
    * stream. Without the range condition the state store would grow
    * forever; this operator makes the bound structural rather than
    * leaving it to the caller's join expression.
    *
    * Column contract: the two inputs must have disjoint column names
    * apart from nothing (the key columns are named per side) — the
    * caller renames upfront, keeping the output schema explicit.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String,
      lookback: String, delayThreshold: String): DataFrame = {
    val l = left.withWatermark(leftTs, delayThreshold)
    val r = right.withWatermark(rightTs, delayThreshold)
    l.join(r,
      expr(s"$leftKey = $rightKey AND " +
        s"$rightTs BETWEEN $leftTs - INTERVAL $lookback AND $leftTs"))
  }

  /** Write a streaming DataFrame to parquet with checkpointing — the
    * durable sink shape (`writeStream.format("parquet")` + checkpoint
    * location, append mode).
    */
  /** Stream-static exact-dup flags at ingest: each streamed doc's
    * normalized content key LEFT-joined against the STANDING corpus's
    * distinct key set — the stream-static join class (stateless: no
    * state store, each micro-batch probes the static side, which Spark
    * re-plans per batch so a growing corpus table is picked up). Emits
    * `(id, dup_exact)` one row per streamed doc.
    */
  def incrementalExactStream(stream: DataFrame, corpusKeys: DataFrame,
      mode: graft.pipeline.Hashing.HashMode =
        graft.pipeline.Hashing.HashMode.Oracle): DataFrame =
    stream
      .select(col("doc_id").as("id"), mode(lower(col("text"))).as("k"))
      .join(corpusKeys.select(col("k"), lit(true).as("hit")), Seq("k"),
        "left_outer")
      .select(col("id"), coalesce(col("hit"), lit(false)).as("dup_exact"))

  /** Stream-static LSH candidates at ingest: the streamed doc's band
    * buckets (a narrow map — [[graft.pipeline.Dedup.minHashBandBuckets]])
    * INNER-joined against the standing corpus's `(band, bucket, id_c)`
    * index. Stateless like the exact gate — candidates for a doc all
    * surface in its own micro-batch, so draining the sink and verifying
    * in batch ([[graft.pipeline.Dedup.incrementalVerdicts]]) reproduces
    * the batch operator exactly for ANY arrival order or batch split.
    */
  def incrementalCandidatesStream(streamBuckets: DataFrame,
      corpusBuckets: DataFrame): DataFrame =
    streamBuckets.select(col("id").as("id_b"), col("band"), col("bucket"))
      .join(corpusBuckets.select(col("id").as("id_c"),
        col("band"), col("bucket")), Seq("band", "bucket"))
      .select(col("id_b"), col("id_c"))

  def toParquet(stream: DataFrame, path: String, checkpoint: String,
      outputMode: OutputMode = OutputMode.Append) =
    stream.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(outputMode)

  /** ForeachBatch persisted-index gate — the PRODUCTION streaming drain
    * of [[graft.pipeline.Dedup.incrementalDedupAgainst]] (round-15
    * VERDICT ask #4). The stream-static drain
    * ([[incrementalExactStream]]/[[incrementalCandidatesStream]], s15/
    * s16) re-scans the static index parquet once per MICRO-BATCH, so an
    * 8-micro-batch drain paid ~8 index scans where the batch gate pays
    * one. Here every micro-batch runs the batch gate's broadcast-delta
    * plan VERBATIM against ONE loaded index whose three relations are
    * persisted MEMORY_AND_DISK — the first micro-batch materializes the
    * index blocks, every later one probes the cache, and the wide work
    * stays delta-bounded (the corpus side never shuffles, exactly the
    * batch plan). Verdicts are per-delta-doc independent, so the drained
    * union over ANY micro-batch split equals the whole-delta batch
    * gate's output exactly — p54's oracle SQL gates it verbatim (s17).
    *
    * Each micro-batch's full verdict relation (`doc_id, dup_exact,
    * near_id, near_jaccard, keep`) lands under `outPath/batch=<id>` —
    * OVERWRITING that batch's own directory, because foreachBatch is
    * at-least-once: a retried micro-batch re-delivers the same batchId,
    * and an append sink would duplicate its verdicts while the
    * per-batchId overwrite is idempotent (round-16 ADVICE). Read the
    * sink with `spark.read.parquet(outPath)` — partition discovery adds
    * a `batch` column; select the verdict columns to drop it. Returns
    * the started query plus the cached index — callers `unpersistIndex`
    * it after `awaitTermination` (the cache belongs to the drain, not
    * the session).
    */
  def indexGateDrain(stream: DataFrame,
      index: graft.pipeline.Dedup.CorpusIndex,
      n: Int, numBands: Int, rowsPerBand: Int, threshold: Double,
      mode: graft.pipeline.Hashing.HashMode =
        graft.pipeline.Hashing.HashMode.Oracle,
      outPath: String = null, checkpoint: String = null)
      : (org.apache.spark.sql.streaming.StreamingQuery,
         graft.pipeline.Dedup.CorpusIndex) = {
    require(outPath != null && checkpoint != null,
      "indexGateDrain needs outPath and checkpoint locations")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val cached = graft.pipeline.Dedup.CorpusIndex(
      index.keys.persist(lvl), index.buckets.persist(lvl),
      index.shingles.persist(lvl), index.params)
    val q = stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        graft.pipeline.Dedup.incrementalDedupAgainst(cached, batch,
            n, numBands, rowsPerBand, threshold, mode,
            broadcastDelta = true)
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    (q, cached)
  }

  /** Release the blocks [[indexGateDrain]] pinned. */
  def unpersistIndex(index: graft.pipeline.Dedup.CorpusIndex): Unit = {
    index.keys.unpersist(false)
    index.buckets.unpersist(false)
    index.shingles.unpersist(false)
  }
}
