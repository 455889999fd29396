package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.ml.functions.vector_to_array

import graft.graph.PropertyGraph
import graft.ml.DummyVectors
import graft.sources.{GraphCsv, Sinks}

/** Oracle-checked coverage of the source/sink (SURVEY §2.1 S1-S7) and ML
  * encoding (§2.8 M1-M4) families (VERDICT round 2, "Next round" #1): the
  * operators previously covered only by ScalaTest specs now each have a
  * DuckDB-verified CORRECTNESS row.
  *
  *   - s01: the schema-driven CSV scans (S1/S2) over the reference's own
  *     Quakers dataset, composed with the closed-form one-hot cosine
  *     numerator (F1) — DuckDB re-reads the same CSVs with `read_csv`.
  *   - s02: parquet write→append→compact→reload (S3/S4/S5/S6) — the
  *     roundtrip must be lossless, so an aggregate over the reloaded data
  *     must equal the same aggregate DuckDB computes on the original table.
  *   - s03: the distributed community CSV sink (S7) — written with
  *     `partitionBy(component)`, read back from the partition-directory
  *     layout, and the recovered component sizes compared against the
  *     recursive-CTE components oracle.
  *   - m01: StringIndexer→OneHotEncoder→VectorAssembler (M1-M4): Spark's
  *     frequency-desc, ties-alphabetic vocabulary order and the dropLast
  *     =false block layout are SQL-expressible, so the active one-hot
  *     indices are recomputed in DuckDB with window-function ranking.
  *
  * Scale notes: s01/s02/s03 are scans + one map-side-combinable aggregate
  * each (the sinks write with the data's natural parallelism — no
  * repartition(1) driver funnels); m01's fit stage is one pass per
  * indexed column and its transform is a narrow map.
  */
object SourceMlQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The reference's own test dataset (read-only). */
  private val QuakersDir = "/root/reference/data/input_graphs/Quakers"
  private val NodeFeatures = Seq("significance", "gender", "birth", "death", "internal_id")

  /** Per-(session, sf-dir) scratch dir for the sink roundtrips — stable so
    * repeated runs overwrite rather than accumulate.
    */
  private[queries] def scratch(dir: String, name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_${name}_${Integer.toHexString(dir.hashCode)}"

  /** JVM-session staging cache for the streaming family's input files
    * (VERDICT round 11 #7): the s-family burned ~24 s of the 84 s bench
    * on re-writing identical staged inputs every warmup + measured
    * pass, burying operator cost in harness cost. Each staged path is
    * written once per JVM and reused by later executions of the same
    * query in the same session, so Bench's measured passes time the
    * streaming OPERATOR (micro-batch drain + state) and not the input
    * re-staging. Deliberately session-scoped, NOT an on-disk marker: a
    * fresh JVM (every Verify / driver correctness run) always
    * re-stages, so stale tmp data can never leak into a gate.
    */
  private val stagedPaths =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[queries] def stageOnce(path: String)(write: => Unit): Unit =
    if (stagedPaths.add(path)) {
      // Mark staged only if the write SUCCEEDS (ADVICE round 12): a
      // failed staging write must not leave the path marked, or every
      // later execution in this JVM would silently stream from a
      // missing/partial directory instead of erroring.
      try write
      catch { case e: Throwable => stagedPaths.remove(path); throw e }
    }

  private val NODES_SQL = s"""
    |nodes AS (
    |  SELECT * FROM read_csv('$QuakersDir/quakers_nodelist.csv2',
    |    header=true, delim=',',
    |    columns={'id': 'BIGINT', 'significance': 'VARCHAR', 'gender': 'VARCHAR',
    |             'birth': 'VARCHAR', 'death': 'VARCHAR', 'internal_id': 'VARCHAR'})
    |),
    |qedges AS (
    |  SELECT * FROM read_csv('$QuakersDir/quakers_edgelist.csv2',
    |    header=true, delim=',', columns={'src': 'BIGINT', 'dst': 'BIGINT'})
    |)""".stripMargin

  val queries: Seq[QueryDef] = Seq(

    // ---- S1/S2 + F1 closed form: schema-driven CSV node+edge scans over
    // the reference's Quakers dataset; per-edge count of equal features =
    // the numerator of the one-hot cosine (dropLast=false ⇒ cos = eq/F).
    // Null-safe equality: schema'd CSV reads turn empty fields into NULLs
    // in both engines.
    QueryDef(
      "s01_csv_scan",
      s"""WITH $NODES_SQL
         |SELECT e.src, e.dst,
         |  CAST((CASE WHEN a.significance IS NOT DISTINCT FROM b.significance THEN 1 ELSE 0 END)
         |     + (CASE WHEN a.gender IS NOT DISTINCT FROM b.gender THEN 1 ELSE 0 END)
         |     + (CASE WHEN a.birth IS NOT DISTINCT FROM b.birth THEN 1 ELSE 0 END)
         |     + (CASE WHEN a.death IS NOT DISTINCT FROM b.death THEN 1 ELSE 0 END) AS BIGINT)
         |    AS eq_features,
         |  a.significance AS src_significance,
         |  b.gender AS dst_gender
         |FROM qedges e
         |JOIN nodes a ON a.id = e.src
         |JOIN nodes b ON b.id = e.dst""".stripMargin) { (s, dir) =>
      val nodes = GraphCsv.loadNodes(s, s"$QuakersDir/quakers_nodelist.csv2",
        NodeFeatures)
      val edges = GraphCsv.loadEdges(s, s"$QuakersDir/quakers_edgelist.csv2")
      def eq(f: String) =
        when(col(s"a.$f") <=> col(s"b.$f"), 1).otherwise(0)
      edges
        .join(nodes.as("a"), col("a.id") === col("src"))
        .join(nodes.as("b"), col("b.id") === col("dst"))
        .select(col("src"), col("dst"),
          Seq("significance", "gender", "birth", "death")
            .map(eq).reduce(_ + _).cast("long").as("eq_features"),
          col("a.significance").as("src_significance"),
          col("b.gender").as("dst_gender"))
    },

    // ---- S3/S4/S5/S6: parquet write → duplicate append → compact (dedup
    // + overwrite) → reload (persisted read-back), then aggregate. The
    // oracle aggregates the original table: the roundtrip must be lossless
    // and the compaction must collapse the append-induced duplicates.
    QueryDef(
      "s02_sink_roundtrip",
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS cnt
        |FROM (SELECT DISTINCT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |      FROM lineitem)
        |GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val base = scratch(dir, "s02")
      val sel = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      sel.write.mode(SaveMode.Overwrite).parquet(s"$base/li_pre.parquet")
      sel.write.mode(SaveMode.Append).parquet(s"$base/li_pre.parquet")
      val compacted = Sinks.compact(s, base, "li")
      val reloaded = Sinks.reload(compacted, base, "li_reloaded", persist = false)
      reloaded.groupBy("l_returnflag")
        .agg(graft.Exact.dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt"))
    },

    // ---- S7 + G4: distributed community CSV sink. Components of the
    // derived graph are written as `component=<id>/part-*.csv` and read
    // back from that layout; the recovered sizes must match the
    // recursive-CTE component oracle.
    QueryDef(
      "s03_community_csv",
      s"""WITH RECURSIVE ${GraphQueries.EDGES},
         |verts AS (SELECT DISTINCT src AS id FROM sym),
         |reach AS (
         |  SELECT id, id AS r FROM verts
         |  UNION
         |  SELECT s.dst AS id, r.r FROM reach r JOIN sym s ON s.src = r.id
         |)
         |SELECT component, CAST(count(*) AS BIGINT) AS size FROM (
         |  SELECT id, MIN(r) AS component FROM reach GROUP BY id
         |) GROUP BY component""".stripMargin) { (s, dir) =>
      implicit val spark: SparkSession = s
      val e = GraphQueries.derivedEdges(s, dir)
      val v = e.select(explode(array(col("src"), col("dst"))).as("id")).distinct()
      val out = scratch(dir, "s03")
      // s03 measures the SINK; the components come from the session cache
      // (g08 measures the CC operator itself, fresh).
      Sinks.saveCommunitiesCsv(PropertyGraph(v, e), out,
        Some(GraphQueries.componentsCached(s, dir)))
      s.read.option("header", "true").csv(out)
        .select(col("component").cast("long").as("component"))
        .groupBy("component")
        .agg(count(lit(1)).as("size"))
    },

    // ---- additional source formats: ORC and JSON-lines roundtrips.
    // The same shape as s02's parquet gate: write → read back (explicit
    // schema on JSON, so type inference can't drift) → aggregate, and the
    // aggregate must equal DuckDB's over the ORIGINAL table — proving
    // both roundtrips lossless for longs, strings, and doubles.
    QueryDef(
      "s05_orc_json_roundtrip",
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      val base = scratch(dir, "s05")
      val sel = t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      sel.write.mode(SaveMode.Overwrite).orc(s"$base/li.orc")
      val fromOrc = s.read.orc(s"$base/li.orc")
      fromOrc.write.mode(SaveMode.Overwrite).json(s"$base/li.json")
      s.read.schema(sel.schema).json(s"$base/li.json")
        .groupBy("l_returnflag")
        .agg(graft.Exact.dsum(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("cnt"))
    },

    // ---- §2.10: streaming ingest with a BATCH oracle. The q12 windowed
    // aggregation re-expressed as a Structured Streaming query (file
    // source → watermark → tumbling 1-day window → Trigger.AvailableNow),
    // drained to completion inside the fn. On bounded input streaming and
    // batch must agree exactly, so the Complete-mode result hash-matches
    // DuckDB's batch answer — this upgrades the streaming family from
    // spec-only to oracle-gated. The memory sink holds ~150 aggregate
    // rows (not the stream) — driver-safe by construction.
    QueryDef(
      "s04_streaming_ingest",
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      // The streaming file source wants a DIRECTORY; the sf dir holds one
      // file per table, so scope the listing with a glob filter.
      val agg = graft.Tables.normalizeEventTs(s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(dir))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), graft.Exact.dsum(col("value")).as("total_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"), col("total_value"))
      // NOT under withStatePartitions (round-19, measured): this drain
      // aggregates the full event volume — the windowed agg's shuffle
      // work tracks DATA, and shrinking its partitions cost more than
      // the single state store's commits saved (2.0 -> 2.9 s).
      val q = agg.writeStream.format("memory").queryName("s04_stream_out")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Complete)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table("s04_stream_out")
    },

    // ---- §2.10: gap sessionization with a BATCH oracle (the s04 pattern
    // applied to the `flatMapGroupsWithState` operator, VERDICT round 5
    // "Next round" #3). On bounded input the streaming sessionizer must
    // equal the batch formulation — lag() gap-break + running-sum session
    // ids in DuckDB. Two drain mechanics make the replay exact: the input
    // is staged as ONE sorted parquet file (single data batch → no event
    // is ever late w.r.t. the 0-second watermark), and one sentinel event
    // for a fake key, placed past every real session's `end + gap`
    // timeout, advances the final watermark so the no-data batch closes
    // every real open session (the sentinel's own session never closes
    // and is filtered out). ~5.7k closed sessions land in the memory
    // sink — aggregates, not the stream; driver-safe.
    QueryDef(
      "s06_gap_sessions",
      // ms, not µs: the operator's time axis is `Timestamp.getTime`
      // milliseconds, so the batch replay truncates to ms the same way.
      """WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000 AS tms FROM events),
        |d AS (SELECT user_id, tms,
        |  CASE WHEN tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms)
        |       > 21600000 THEN 1 ELSE 0 END AS brk FROM e),
        |s AS (SELECT user_id, tms, SUM(brk) OVER (PARTITION BY user_id
        |  ORDER BY tms ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess FROM d)
        |SELECT user_id, MIN(tms) AS start_ms, MAX(tms) AS end_ms,
        |  COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sess""".stripMargin) { (s, dir) =>
      import s.implicits._
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val gapSec = 21600L // 6 h: multi-event sessions at every test SF
      val base = scratch(dir, "s06")
      stageOnce(s"$base/in") {
        val ev = graft.Tables.normalizeEventTs(s.read.parquet(s"$dir/events.parquet"))
          .select(col("user_id").cast("string").as("user"), col("ts"))
        val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
        val sentinel = Seq(maxUs + (gapSec + 3600L) * 1000000L).toDF("us")
          .select(lit("__sentinel__").as("user"),
            timestamp_micros(col("us")).as("ts"))
        ev.unionByName(sentinel).coalesce(1).sortWithinPartitions("ts")
          .write.mode(SaveMode.Overwrite).parquet(s"$base/in")
      }
      val stream = s.readStream.schema("user STRING, ts TIMESTAMP")
        .parquet(s"$base/in")
        .as[graft.streaming.StreamingOps.SessionEvent]
      val sessions = graft.streaming.StreamingOps
        .sessionize(stream, gapSec, "0 seconds")
      graft.streaming.StreamingOps.withStatePartitions(s, Seq(s"$base/in")) {
        val q = sessions.writeStream.format("memory").queryName("s06_sessions")
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table("s06_sessions")
        .filter(col("user") =!= "__sentinel__")
        .select(col("user").cast("long").as("user_id"),
          unix_millis(col("start")).as("start_ms"),
          unix_millis(col("end")).as("end_ms"),
          col("n_events"))
    },

    // ---- §2.10: mapGroupsWithState keyed state with a BATCH oracle.
    // The running per-key (count, sum) drained on bounded input must
    // equal the batch GROUP BY. Two replay exactnesses: values are
    // staged as integer CENTS held in the operator's Double state (exact
    // in any fold order below 2^53 — a raw double sum would be
    // order-dependent in the last ulp), and the final state row per key
    // is selected with max_by on the strictly-increasing count, which
    // stays correct even if the file source split the drain into
    // several update emissions.
    QueryDef(
      "s07_running_stats",
      """SELECT user_id, COUNT(*) AS n,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events GROUP BY user_id""".stripMargin) { (s, dir) =>
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val base = scratch(dir, "s07")
      stageOnce(s"$base/in") {
        s.read.parquet(s"$dir/events.parquet")
          .select(col("user_id").cast("string").as("key"),
            round(col("value") * 100).as("value"))
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$base/in")
      }
      val stream = s.readStream.schema("key STRING, value DOUBLE")
        .parquet(s"$base/in")
        .as[graft.streaming.StreamingOps.KeyedEvent](
          org.apache.spark.sql.Encoders.product)
      val stats = graft.streaming.StreamingOps.runningStats(stream)
      graft.streaming.StreamingOps.withStatePartitions(s, Seq(s"$base/in")) {
        val q = stats.writeStream.format("memory").queryName("s07_stats")
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table("s07_stats")
        .groupBy("key")
        .agg(max(col("n")).as("n"),
          max_by(col("total"), col("n")).as("total"))
        .select(col("key").cast("long").as("user_id"), col("n"),
          col("total").cast("long").as("total_cents"))
    },

    // ---- §2.10: streaming watermark dedup with a BATCH oracle. The
    // staged input is the events table plus a re-injected copy of every
    // third event (same id, same content) — exactly-once at the door
    // must collapse it back to the original distinct id set, which is
    // what the oracle states: dedup(events ∪ dups) = events. Duplicate
    // survivors are content-identical to their originals, so the output
    // rows are deterministic. Single staged file → one micro-batch →
    // every duplicate meets its original inside the state's watermark
    // lifetime by construction.
    QueryDef(
      "s08_streaming_dedup",
      """SELECT event_id, CAST(round(value * 100) AS BIGINT) AS cents
        |FROM events""".stripMargin) { (s, dir) =>
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val base = scratch(dir, "s08")
      stageOnce(s"$base/in") {
        val ev = graft.Tables.normalizeEventTs(s.read.parquet(s"$dir/events.parquet"))
          .select(col("event_id"), col("ts"),
            round(col("value") * 100).cast("long").as("cents"))
        ev.unionByName(ev.filter(col("event_id") % 3 === 0))
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$base/in")
      }
      val stream = s.readStream
        .schema("event_id BIGINT, ts TIMESTAMP, cents BIGINT")
        .parquet(s"$base/in")
      val deduped = graft.streaming.StreamingOps
        .dedupStream(stream, "ts", "1 hour", Seq("event_id"))
      graft.streaming.StreamingOps.withStatePartitions(s, Seq(s"$base/in")) {
        val q = deduped.writeStream.format("memory").queryName("s08_dedup")
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table("s08_dedup").select(col("event_id"), col("cents"))
    },

    // ---- §2.10 + sketches: streaming approximate-distinct via
    // register state in mapGroupsWithState. Register MAX is
    // commutative/associative and the estimate is a pure function of
    // the registers, so streaming == batch holds EXACTLY (no ordering
    // caveat) — the oracle is the same batch-HLL SQL as p29.
    QueryDef(
      "s09_streaming_hll",
      s"""WITH h AS (
         |  SELECT source, ${graft.pipeline.Hashing.sqlH60("text")} AS h
         |  FROM documents
         |), b AS (
         |  SELECT source, h % ${graft.pipeline.Sketches.NumBuckets} AS bucket,
         |    h // ${graft.pipeline.Sketches.NumBuckets} AS rest FROM h
         |), reg AS (
         |  SELECT source, bucket,
         |    max(CASE WHEN rest = 0 THEN ${graft.pipeline.Sketches.MaxRho}
         |      ELSE bit_count(xor(rest, rest - 1) // 2) + 1 END) AS rho,
         |    count(*) AS bn
         |  FROM b GROUP BY 1, 2
         |), grp AS (
         |  SELECT source, CAST(sum(bn) AS BIGINT) AS n_rows,
         |    ${graft.pipeline.Sketches.NumBuckets} - count(*) AS v,
         |    CAST(floor(${graft.pipeline.Sketches.EstNumerator} / CAST(
         |      sum(1::BIGINT << (${graft.pipeline.Sketches.MaxRho} - rho)) +
         |      (${graft.pipeline.Sketches.NumBuckets} - count(*)) *
         |        (1::BIGINT << ${graft.pipeline.Sketches.MaxRho}) AS DOUBLE))
         |      AS BIGINT) AS raw
         |  FROM reg GROUP BY source
         |)
         |SELECT source, n_rows,
         |  CASE WHEN v > 0
         |      AND raw < ${5L * graft.pipeline.Sketches.NumBuckets / 2}
         |    THEN CAST(floor(${graft.pipeline.Sketches.NumBuckets}.0 *
         |      ln(${graft.pipeline.Sketches.NumBuckets}.0 /
         |        CAST(v AS DOUBLE))) AS BIGINT)
         |    ELSE raw END AS est_distinct
         |FROM grp""".stripMargin) { (s, dir) =>
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val base = scratch(dir, "s09")
      stageOnce(s"$base/in") {
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("source").as("key"),
            graft.pipeline.Hashing.h60(col("text")).as("h"))
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$base/in")
      }
      val stream = s.readStream.schema("key STRING, h BIGINT")
        .parquet(s"$base/in")
        .as[graft.streaming.StreamingOps.SketchEvent](
          org.apache.spark.sql.Encoders.product)
      val ests = graft.streaming.StreamingOps.approxDistinctStream(stream)
      graft.streaming.StreamingOps.withStatePartitions(s, Seq(s"$base/in")) {
        val q = ests.writeStream.format("memory").queryName("s09_hll")
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // Final state per key: n_rows is strictly increasing across
      // emissions, so max_by picks the last (complete) sketch even if
      // the drain split into several update batches.
      s.table("s09_hll")
        .groupBy(col("key"))
        .agg(max(col("n_rows")).as("n_rows"),
          max_by(col("est_distinct"), col("n_rows")).as("est_distinct"))
        .select(col("key").as("source"), col("n_rows"), col("est_distinct"))
    },

    // ---- §2.10 + sketches: streaming Count-Min — counter addition is
    // commutative/associative and the cell key space is bounded by
    // depth × width, so the drained counters equal the batch sketch
    // EXACTLY and the oracle is p39's own SQL verbatim. Probe math is
    // precomputed batch-side (identical to Sketches.countMinSketch), so
    // the stream exercises precisely the stateful counting.
    QueryDef(
      "s10_streaming_countmin",
      PipelineQueries.sqlCountMinTopK) { (s, dir) =>
      import graft.pipeline.{Hashing, Sketches}
      val D = PipelineQueries.CM_DEPTH
      val W = PipelineQueries.CM_WIDTH
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .select(explode(split(lower(col("text")), " ")).as("w"))
      val base = scratch(dir, "s10")
      stageOnce(s"$base/in") {
        toks.select(Hashing.h60(col("w")).as("h"))
          .select(col("h"),
            explode(array((0 until D).map(lit): _*)).as("cm_row"))
          .select(col("cm_row"),
            pmod(col("h") + col("cm_row") * (lit(1L) + pmod(col("h"), lit(W - 1L))),
              lit(W.toLong)).as("pos"))
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$base/in")
      }
      val stream = s.readStream.schema("cm_row INT, pos BIGINT")
        .parquet(s"$base/in")
        .as[graft.streaming.StreamingOps.CellEvent](
          org.apache.spark.sql.Encoders.product)
      val counts = graft.streaming.StreamingOps.countMinStream(stream)
      graft.streaming.StreamingOps.withStatePartitions(s, Seq(s"$base/in")) {
        val q = counts.writeStream.format("memory").queryName("s10_cm")
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // Counters are strictly increasing across emissions: max picks
      // each cell's final (complete) count even over a split drain.
      val sketch = s.table("s10_cm").groupBy(col("cm_row"), col("pos"))
        .agg(max(col("cnt")).as("cnt"))
      val tru = toks.groupBy("w").agg(count(lit(1)).as("n_true"))
        .orderBy(col("n_true").desc, col("w")).limit(PipelineQueries.CM_TOPK)
      Sketches.countMinLookup(sketch, tru.select("w"), "w", D, W)
        .join(tru, Seq("w"))
        .select(col("w").as("word"), col("n_true"), col("est_n").as("n_est"))
    },

    // ---- streaming extension: stream-stream interval join (the last
    // first-class Structured Streaming surface — joins where BOTH sides
    // are unbounded). Purchases join the same user's views in the hour
    // before them; watermarks on both sides + the time-range predicate
    // let Spark expire join state, so the operator is constant-state on
    // an unbounded stream. A bounded AvailableNow drain of an inner
    // join is exactly the batch join of the same rows, so the DuckDB
    // batch join is a true oracle.
    QueryDef(
      "s11_stream_join",
      """SELECT p.event_id AS p_id, v.event_id AS v_id,
        |  p.user_id AS user_id, v.value AS v_value
        |FROM events p JOIN events v
        |  ON p.event_type = 'purchase' AND v.event_type = 'view'
        | AND v.user_id = p.user_id
        | AND CAST(v.ts AS TIMESTAMP)
        |     BETWEEN CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
        |         AND CAST(p.ts AS TIMESTAMP)""".stripMargin) { (s, dir) =>
      val base = scratch(dir, "s11")
      stageOnce(s"$base/purchases") {
        val ev = graft.Tables.normalizeEventTs(s.read.parquet(s"$dir/events.parquet"))
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$base/purchases")
        ev.filter(col("event_type") === "view")
          .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
            col("ts").as("v_ts"), col("value").as("v_value"))
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$base/views")
      }
      val purchases = s.readStream
        .schema("p_id BIGINT, user_id BIGINT, p_ts TIMESTAMP")
        .parquet(s"$base/purchases")
      val views = s.readStream
        .schema("v_id BIGINT, v_user BIGINT, v_ts TIMESTAMP, v_value DOUBLE")
        .parquet(s"$base/views")
      val joined = graft.streaming.StreamingOps.intervalJoin(
        purchases, views, "user_id", "v_user", "p_ts", "v_ts",
        "1 HOUR", "1 hour")
      // Size STATE partitions to state volume, not CPU count: a
      // stream-stream join provisions 4 state stores per shuffle
      // partition and pays a per-partition commit every micro-batch —
      // measured ~90% of this query's wall at 32 partitions
      // (BASELINE.md "Round-19: s11 decomposed": 7.8 s at 32 parts vs
      // 2.6 s at 8 for identical output; per-batch slope 2.8 -> 0.65
      // s). Round-19: the inline conf became the family-wide derived
      // policy (StreamingOps.withStatePartitions).
      graft.streaming.StreamingOps.withStatePartitions(s,
          Seq(s"$base/purchases", s"$base/views")) {
        val q = joined.writeStream.format("memory").queryName("s11_join")
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table("s11_join")
        .select(col("p_id"), col("v_id"), col("user_id"), col("v_value"))
    },

    // ---- §2.10 + sketches: streaming bottom-k sample — the third
    // mergeable-sketch twin (HLL s09, Count-Min s10). Keyed state is the
    // current bottom-k (h, doc_id) set per language (≤ k entries,
    // constant on an unbounded stream); "bottom-k of a union = bottom-k
    // of the parts' bottom-ks" is order-free, so the drained sample
    // equals the batch sample EXACTLY and p31's oracle SQL gates it
    // verbatim. Hashes precomputed batch-side (identical to
    // Sketches.bottomKSample's h60), so the stream exercises precisely
    // the stateful min-merge.
    QueryDef(
      "s12_streaming_bottomk",
      PipelineQueries.sqlBottomK) { (s, dir) =>
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val base = scratch(dir, "s12")
      stageOnce(s"$base/in") {
        s.read.parquet(s"$dir/documents.parquet")
          .select(col("lang").as("key"),
            graft.pipeline.Hashing.h60(col("text")).as("h"),
            col("doc_id").as("tie"))
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$base/in")
      }
      val stream = s.readStream.schema("key STRING, h BIGINT, tie BIGINT")
        .parquet(s"$base/in")
        .as[graft.streaming.StreamingOps.BkEvent](
          org.apache.spark.sql.Encoders.product)
      val samples = graft.streaming.StreamingOps.bottomKStream(
        stream, PipelineQueries.BOTTOMK)
      graft.streaming.StreamingOps.withStatePartitions(s, Seq(s"$base/in")) {
        val q = samples.writeStream.format("memory").queryName("s12_bk")
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      // n_seen is strictly increasing, so max_by picks each key's final
      // (complete) sample even over a split drain; posexplode recovers
      // the 1-based sample rank from the sorted array.
      s.table("s12_bk")
        .groupBy(col("key"))
        .agg(max_by(col("sample"), col("n_seen")).as("sample"))
        .select(col("key"), posexplode(col("sample")))
        .select(col("key").as("lang"), col("col.tie").as("doc_id"),
          col("col.h").as("h"), (col("pos") + 1).cast("long").as("sample_rank"))
    },

    // ---- streaming weighted sample — pure operator REUSE: the A-ES
    // race key (Curation.raceKey, the batch p42 formula) turns
    // bottomKStream into streaming weighted sampling without
    // replacement, because "k smallest race keys win" IS a bottom-k and
    // min-merge is order-free. Streaming == batch EXACTLY, so p42's
    // oracle SQL gates this verbatim; weight rides back in via one
    // batch-side join on doc_id after the drain.
    QueryDef(
      "s13_streaming_weighted_sample",
      PipelineQueries.sqlWeightedSample) { (s, dir) =>
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val base = scratch(dir, "s13")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      stageOnce(s"$base/in") {
        docs.select(col("source").as("key"),
            graft.pipeline.Curation.raceKey(col("doc_id"),
              graft.pipeline.Curation.checkedWeight(col("n_chars"), col("doc_id")))
              .as("h"),
            col("doc_id").as("tie"))
          .coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$base/in")
      }
      val stream = s.readStream.schema("key STRING, h BIGINT, tie BIGINT")
        .parquet(s"$base/in")
        .as[graft.streaming.StreamingOps.BkEvent](
          org.apache.spark.sql.Encoders.product)
      val samples = graft.streaming.StreamingOps.bottomKStream(
        stream, PipelineQueries.WS_K)
      graft.streaming.StreamingOps.withStatePartitions(s, Seq(s"$base/in")) {
        val q = samples.writeStream.format("memory").queryName("s13_ws")
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.table("s13_ws")
        .groupBy(col("key"))
        .agg(max_by(col("sample"), col("n_seen")).as("sample"))
        .select(col("key"), posexplode(col("sample")))
        .select(col("key").as("group"), col("col.tie").as("doc_id"),
          (col("pos") + 1).cast("long").as("samp_rank"))
        .join(docs.select(col("doc_id"), col("n_chars").cast("long").as("weight")),
          Seq("doc_id"))
        .select(col("group"), col("doc_id"), col("weight"), col("samp_rank"))
    },

    // ---- §2.10 + dedup: streaming MinHash-LSH near-dup — dedup AT
    // INGEST, the streaming twin of p05 (round 13). The narrow
    // band-bucket map (`Dedup.minHashBandBuckets`, no shuffle) runs on
    // the stream; per-(band, bucket) `flatMapGroupsWithState` holds
    // the member-id set and emits each new doc paired against existing
    // members — every unordered pair exactly once, when the LATER doc
    // arrives, so the candidate SET is arrival-order- and
    // batch-boundary-free and equals the batch self-join's. Staged as
    // 2 files with maxFilesPerTrigger=1, so cross-micro-batch state is
    // genuinely exercised; the verify stage is the same exact Jaccard,
    // hence streaming == batch EXACTLY and p05's oracle SQL gates it
    // VERBATIM.
    QueryDef(
      "s14_streaming_lsh_dedup",
      PipelineQueries.sqlMinhashPairs) { (s, dir) =>
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val base = scratch(dir, "s14")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      stageOnce(s"$base/in") {
        docs.select(col("doc_id"), col("text"))
          .repartition(2)
          .write.mode(SaveMode.Overwrite).parquet(s"$base/in")
      }
      val stream = s.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$base/in")
      val buckets = graft.pipeline.Dedup.minHashBandBuckets(stream,
          PipelineQueries.SHINGLE_N, PipelineQueries.MH_BANDS,
          PipelineQueries.MH_ROWS)
        .as[graft.streaming.StreamingOps.BandEvent](
          org.apache.spark.sql.Encoders.product)
      val cands = graft.streaming.StreamingOps.lshCandidatesStream(buckets)
      graft.streaming.StreamingOps.withStatePartitions(s, Seq(s"$base/in")) {
        val q = cands.writeStream.format("memory").queryName("s14_lsh")
          .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      graft.pipeline.Dedup.verifyJaccardPairs(docs,
        s.table("s14_lsh").dropDuplicates(),
        PipelineQueries.SHINGLE_N, PipelineQueries.MH_T)
    },

    // ---- s15: STREAM-STATIC incremental dedup at ingest — the delta
    // arrives as a stream (2 files × maxFilesPerTrigger=1, so the gate
    // really runs per micro-batch), the corpus is a standing static
    // table. Both streaming joins are stateless stream-static equi-joins
    // (the operator class s04-s14 don't cover): content keys vs the
    // corpus key set, band buckets vs the corpus bucket index. The
    // drained candidate/exact sets equal the batch p54 operator's for
    // any arrival order, the post-drain verify IS the batch verify
    // stage, hence streaming == batch EXACTLY and p54's oracle SQL
    // gates it VERBATIM.
    QueryDef(
      "s15_streaming_incremental_dedup",
      PipelineQueries.sqlIncrementalDedup) { (s, dir) =>
      import graft.streaming.StreamingOps
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val base = scratch(dir, "s15")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val corpus = docs.filter(
        pmod(col("doc_id"), lit(PipelineQueries.INC_MOD)) =!=
          PipelineQueries.INC_REM)
      val batch = docs.filter(
        pmod(col("doc_id"), lit(PipelineQueries.INC_MOD)) ===
          PipelineQueries.INC_REM)
      stageOnce(s"$base/in") {
        batch.select(col("doc_id"), col("text"))
          .repartition(2)
          .write.mode(SaveMode.Overwrite).parquet(s"$base/in")
      }
      // The standing corpus-side state, built once (in production:
      // persisted parquet tables, appended after each gated batch).
      val idx = graft.pipeline.Dedup.corpusIndex(corpus,
        PipelineQueries.SHINGLE_N, PipelineQueries.MH_BANDS,
        PipelineQueries.MH_ROWS)
      def stream = s.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$base/in")
      // NOT under withStatePartitions (round-19, measured): both drains
      // are STATELESS stream-static joins — no state stores to
      // provision, so shrinking partitions only cost corpus-side join
      // parallelism (2.1 -> 2.6 s).
      val qe = StreamingOps.incrementalExactStream(stream, idx.keys)
        .writeStream.format("memory").queryName("s15_exact")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val qc = StreamingOps.incrementalCandidatesStream(
          graft.pipeline.Dedup.minHashBandBuckets(stream,
            PipelineQueries.SHINGLE_N, PipelineQueries.MH_BANDS,
            PipelineQueries.MH_ROWS), idx.buckets)
        .writeStream.format("memory").queryName("s15_cand")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      qe.awaitTermination(); qc.awaitTermination()
      graft.pipeline.Dedup.incrementalVerdicts(idx.shingles,
        graft.pipeline.Dedup.docShingles(batch, PipelineQueries.SHINGLE_N),
        s.table("s15_exact").filter(col("dup_exact")).select("id"),
        s.table("s15_cand").dropDuplicates(), PipelineQueries.MH_T)
    },

    // ---- s16: the s15 gate against the PERSISTED standing index — the
    // production shape where the streaming ingest gate and the batch
    // delta gate share ONE writeIndex artifact on storage (round-14
    // VERDICT ask #5: s15 re-planned an in-memory corpus derivation per
    // micro-batch; here every micro-batch's stream-static joins probe
    // the readIndex parquet relations, params.json-validated). Verdicts
    // must equal the batch operator's EXACTLY, so p54's oracle SQL
    // gates this too, verbatim — which also pins s16 == s15.
    QueryDef(
      "s16_streaming_index_gate",
      PipelineQueries.sqlIncrementalDedup) { (s, dir) =>
      import graft.streaming.StreamingOps
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val base = scratch(dir, "s16")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val corpus = docs.filter(
        pmod(col("doc_id"), lit(PipelineQueries.INC_MOD)) =!=
          PipelineQueries.INC_REM)
      val batch = docs.filter(
        pmod(col("doc_id"), lit(PipelineQueries.INC_MOD)) ===
          PipelineQueries.INC_REM)
      stageOnce(s"$base/in") {
        batch.select(col("doc_id"), col("text"))
          .repartition(2)
          .write.mode(SaveMode.Overwrite).parquet(s"$base/in")
      }
      stageOnce(s"$base/idx") {
        graft.pipeline.Dedup.writeIndex(
          graft.pipeline.Dedup.corpusIndex(corpus,
            PipelineQueries.SHINGLE_N, PipelineQueries.MH_BANDS,
            PipelineQueries.MH_ROWS),
          s"$base/idx")
      }
      val idx = graft.pipeline.Dedup.readIndex(s, s"$base/idx")
      val p = idx.params.get
      p.requireMatches(PipelineQueries.SHINGLE_N, PipelineQueries.MH_BANDS,
        PipelineQueries.MH_ROWS, graft.pipeline.Hashing.HashMode.Oracle,
        "s16 streaming gate")
      def stream = s.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$base/in")
      // NOT under withStatePartitions: stateless stream-static joins
      // (see the s15 note).
      val qe = StreamingOps.incrementalExactStream(stream, idx.keys)
        .writeStream.format("memory").queryName("s16_exact")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      val qc = StreamingOps.incrementalCandidatesStream(
          graft.pipeline.Dedup.minHashBandBuckets(stream,
            PipelineQueries.SHINGLE_N, PipelineQueries.MH_BANDS,
            PipelineQueries.MH_ROWS), idx.buckets)
        .writeStream.format("memory").queryName("s16_cand")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      qe.awaitTermination(); qc.awaitTermination()
      graft.pipeline.Dedup.incrementalVerdicts(idx.shingles,
        graft.pipeline.Dedup.docShingles(batch, PipelineQueries.SHINGLE_N),
        s.table("s16_exact").filter(col("dup_exact")).select("id"),
        s.table("s16_cand").dropDuplicates(), PipelineQueries.MH_T)
    },

    // ---- s17: the PRODUCTION streaming drain of the persisted-index
    // gate (round-15 VERDICT ask #4) — foreachBatch runs the batch
    // gate's broadcast-delta plan per micro-batch against ONE loaded
    // index whose relations are cached across micro-batches, instead of
    // s16's stream-static joins that re-scan the index parquet every
    // micro-batch. Verdicts are per-delta-doc independent, so the
    // drained union over any micro-batch split equals the whole-delta
    // batch operator's output exactly: p54's oracle SQL gates this too,
    // verbatim — pinning s17 == s16 == s15 == p54.
    QueryDef(
      "s17_streaming_gate_foreachbatch",
      PipelineQueries.sqlIncrementalDedup) { (s, dir) =>
      import graft.streaming.StreamingOps
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val base = scratch(dir, "s17")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val corpus = docs.filter(
        pmod(col("doc_id"), lit(PipelineQueries.INC_MOD)) =!=
          PipelineQueries.INC_REM)
      val batch = docs.filter(
        pmod(col("doc_id"), lit(PipelineQueries.INC_MOD)) ===
          PipelineQueries.INC_REM)
      stageOnce(s"$base/in") {
        batch.select(col("doc_id"), col("text"))
          .repartition(2)
          .write.mode(SaveMode.Overwrite).parquet(s"$base/in")
      }
      stageOnce(s"$base/idx") {
        graft.pipeline.Dedup.writeIndex(
          graft.pipeline.Dedup.corpusIndex(corpus,
            PipelineQueries.SHINGLE_N, PipelineQueries.MH_BANDS,
            PipelineQueries.MH_ROWS),
          s"$base/idx")
      }
      val idx = graft.pipeline.Dedup.readIndex(s, s"$base/idx")
      idx.params.get.requireMatches(PipelineQueries.SHINGLE_N,
        PipelineQueries.MH_BANDS, PipelineQueries.MH_ROWS,
        graft.pipeline.Hashing.HashMode.Oracle, "s17 foreachBatch gate")
      // Fixed per-query run dir, DELETED before each execution: the
      // sink checkpoint must not resume a finished drain (it would
      // produce zero batches), and a nanoTime-suffixed dir per sample
      // accumulated delta-sized parquet across bench/verify runs
      // (round-16 ADVICE).
      val run = s"$base/run"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(run), true)
      val stream = s.readStream.schema("doc_id BIGINT, text STRING")
        .option("maxFilesPerTrigger", "1")
        .parquet(s"$base/in")
      // NOT under withStatePartitions: the foreachBatch body runs the
      // BATCH gate plan per micro-batch — no streaming state stores,
      // and its broadcast-probe joins want the session's data-sized
      // parallelism (see the s15 note; measured 2.6 -> 3.4 s wrapped).
      val (q, cached) = StreamingOps.indexGateDrain(stream, idx,
        PipelineQueries.SHINGLE_N, PipelineQueries.MH_BANDS,
        PipelineQueries.MH_ROWS, PipelineQueries.MH_T,
        outPath = s"$run/verdicts", checkpoint = s"$run/_ckpt")
      q.awaitTermination()
      StreamingOps.unpersistIndex(cached)
      // The idempotent sink partitions by micro-batch (`batch=<id>`);
      // the gate's output is the verdict columns alone.
      s.read.parquet(s"$run/verdicts")
        .select("doc_id", "dup_exact", "near_id", "near_jaccard", "keep")
    },

    // ---- M1-M4: StringIndexer (frequencyDesc, ties alphabetic, SPARK
    // docs) → OneHotEncoder(dropLast=false) → VectorAssembler. The active
    // one-hot indices of each part are fully determined by the per-feature
    // vocabularies: index(v) = rank of v by (count DESC, value ASC), the
    // second feature's block offset = |brand vocabulary| + 1 — the +1 is
    // the "__unknown" slot handleInvalid="keep" appends to the indexer's
    // column metadata, which widens each encoded block by one (verified
    // against Spark 4.1). DuckDB recomputes exactly that with window
    // functions.
    QueryDef(
      "m01_dummy_vectors",
      """WITH bc AS (SELECT p_brand AS v, count(*) AS c FROM part GROUP BY 1),
        |bi AS (SELECT v, row_number() OVER (ORDER BY c DESC, v ASC) - 1 AS idx FROM bc),
        |cc AS (SELECT p_type AS v, count(*) AS c FROM part GROUP BY 1),
        |ci AS (SELECT v, row_number() OVER (ORDER BY c DESC, v ASC) - 1 AS idx FROM cc),
        |nb AS (SELECT count(*) + 1 AS n FROM bi)
        |SELECT p.p_partkey AS id,
        |  CAST(bi.idx AS VARCHAR) || ',' || CAST(nb.n + ci.idx AS VARCHAR) AS active_idx
        |FROM part p
        |JOIN bi ON bi.v = p.p_brand
        |JOIN ci ON ci.v = p.p_type
        |CROSS JOIN nb""".stripMargin) { (s, dir) =>
      val parts = t(s, dir, "part")
        .select(col("p_partkey").as("id"), col("p_brand"), col("p_type"))
      val dv = DummyVectors.create(parts, Seq("p_brand", "p_type"))
      val arr = vector_to_array(col("features"))
      val active = filter(
        transform(arr, (x, i) => when(x > lit(0.5), i).otherwise(lit(-1))),
        x => x >= 0)
      dv.select(col("id"),
        concat_ws(",", transform(active, _.cast("string"))).as("active_idx"))
    }
  )
}
