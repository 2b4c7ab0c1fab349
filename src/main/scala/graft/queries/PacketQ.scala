package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Dsl._

/** Packet-plane operators (SURVEY §2A): the reference's `k=v\n` wire codec
  * (`MFramework.cpp:1230-1243` parse, `1552-1560` serialize), the required
  * `'s'` key validation (`:1245-1250`), and route-by-target
  * (`:1372-1377`) — re-expressed as codegen'd expressions over columns.
  */
object PacketQ {

  /** Serialize→parse round trip: build a wire packet per event, parse it
    * back with str_to_map, validate the session key, route-count by target.
    * Events with user_id % 7 == 0 are emitted without the 's' line and must
    * be dropped (dead-letter path). The oracle computes the surviving
    * routing table directly. */
  private val q24 = GQuery(
    "q24_packet_roundtrip",
    (s, dir) => {
      val wire = t(s, dir, "events")
        .withColumn("wire",
          when(col("user_id") % 7 === 0,
            concat(lit("f=EV_"), col("event_id"), lit(".dat\nt="), upper(col("event_type"))))
          .otherwise(
            concat(lit("s="), col("user_id") % 8,
              lit("\nf=EV_"), col("event_id"), lit(".dat\nt="), upper(col("event_type")))))
      wire
        .withColumn("pkt", expr("str_to_map(wire, '\n', '=')"))
        .select(
          element_at(col("pkt"), "s").cast(LongType).as("session_id"),
          element_at(col("pkt"), "f").as("file_name"),
          element_at(col("pkt"), "t").as("target"))
        .filter(col("session_id").isNotNull)
        .groupBy(col("target"), col("session_id"))
        .agg(count(lit(1)).as("n_packets"), min(col("file_name")).as("first_file"))
        .orderBy(col("target"), col("session_id"))
    },
    Some("""SELECT upper(event_type) AS target,
      CAST(user_id % 8 AS BIGINT) AS session_id,
      COUNT(*) AS n_packets,
      MIN('EV_' || CAST(event_id AS VARCHAR) || '.dat') AS first_file
    FROM events
    WHERE user_id % 7 <> 0
    GROUP BY 1, 2
    ORDER BY target, session_id"""))

  /** Round-robin redistribution (reference operator #8,
    * `MFramework.cpp:1565-1571`): assign each packet a rotating writer
    * index and count per writer. Made deterministic by keying the rotation
    * on a row attribute (true round-robin is order-dependent; at scale use
    * `repartition(n)` which is Spark's RoundRobinPartitioning). */
  private val q24b = GQuery(
    "q24b_round_robin",
    (s, dir) => {
      t(s, dir, "events")
        .withColumn("writer", col("event_id") % 4)
        .groupBy(col("writer"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("writer"))
    },
    Some("""SELECT event_id % 4 AS writer, COUNT(*) AS n,
      COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1
    ORDER BY writer"""))

  /** Log-level bitmask filter (reference operator #10,
    * `LoggerWriter.cpp:171-224`): level codes carry a bit each; a message
    * passes when `globalLevel & msgLevel != 0`. Modeled as data with the
    * global mask = 11 (INFO|WARN|ALERT). */
  private val q24c = GQuery(
    "q24c_log_level_filter",
    (s, dir) => {
      val lvl = when(col("event_type") === "error", 4)
        .when(col("event_type") === "purchase", 8)
        .when(col("event_type") === "signup", 2)
        .otherwise(1)
      t(s, dir, "events")
        .withColumn("level", lvl)
        .filter((lit(11).bitwiseAND(col("level"))) =!= 0)
        .groupBy(col("level"))
        .agg(count(lit(1)).as("n"))
        .withColumn("level", col("level").cast(LongType))
        .orderBy(col("level"))
    },
    Some("""SELECT CAST(level AS BIGINT) AS level, COUNT(*) AS n
    FROM (SELECT CASE WHEN event_type = 'error' THEN 4
                      WHEN event_type = 'purchase' THEN 8
                      WHEN event_type = 'signup' THEN 2
                      ELSE 1 END AS level
          FROM events)
    WHERE (11 & level) <> 0
    GROUP BY level
    ORDER BY level"""))

  /** Oracle fixture of the Topology CONFIG PLANE
    * ([[graft.streaming.Topology]] — the reference's M_COMPONENT /
    * M_QUEUE / M_LINKED_SESSIONS tables, `MFramework.cpp:666-697,
    * 981-1011`): a config relation derived from the nation table — one
    * linked-session CHAIN per region (each nation a stage, wired to the
    * next nation of its region by the handoff-dir contract) all
    * fanning into one shared SINK collector — round-trips through
    * `Topology.parse` (duplicate/dangling/handoff/cycle validation, the
    * fail-at-deploy gate) and comes back as the per-stage LINEAGE view:
    * wiring columns plus `n_upstream`, longest-path `depth`, reaching
    * `root`, and `is_sink`. The DuckDB oracle replays the DAG walk as a
    * recursive CTE — the hash match proves the validated graph the
    * runner would START is exactly the graph the config describes.
    * Config-grain throughout (|stages| rows, the parse contract). */
  private val q313 = GQuery(
    "q313_topology_lineage",
    (s, dir) => {
      import s.implicits._
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("n_regionkey")).orderBy(col("k"))
      val chains = t(s, dir, "nation")
        .select(col("n_nationkey").as("k"), col("n_regionkey"))
        .withColumn("nxt", lead(col("k"), 1).over(w))
        .select(
          concat(lit("N"), col("k")).as("stage"),
          concat(lit("/n"), col("k")).as("input_dir"),
          lit("parquet").as("format"),
          lit("SELECT * FROM __input").as("transform_sql"),
          when(col("nxt").isNull, lit("/sink"))
            .otherwise(concat(lit("/n"), col("nxt"))).as("output_dir"),
          when(col("nxt").isNull, lit("SINK"))
            .otherwise(concat(lit("N"), col("nxt"))).as("downstream"))
      val sink = Seq(("SINK", "/sink", "parquet",
        "SELECT * FROM __input", "/final", null: String))
        .toDF("stage", "input_dir", "format", "transform_sql",
          "output_dir", "downstream")
      graft.streaming.Topology.lineage(s, chains.unionByName(sink))
    },
    Some("""WITH RECURSIVE nx AS (SELECT n_nationkey AS k,
          LEAD(n_nationkey) OVER (PARTITION BY n_regionkey
            ORDER BY n_nationkey) AS nxt
        FROM nation),
      cfg AS (
        SELECT 'N' || k AS stage, '/n' || k AS input_dir,
          CASE WHEN nxt IS NULL THEN '/sink' ELSE '/n' || nxt END
            AS output_dir,
          CASE WHEN nxt IS NULL THEN 'SINK' ELSE 'N' || nxt END
            AS downstream
        FROM nx
        UNION ALL
        SELECT 'SINK', '/sink', '/final', NULL),
      up AS (SELECT downstream AS stage,
          CAST(COUNT(*) AS BIGINT) AS n_upstream
        FROM cfg WHERE downstream IS NOT NULL GROUP BY 1),
      walk(stage, depth, root) AS (
        SELECT c.stage, CAST(0 AS BIGINT), c.stage FROM cfg c
        WHERE c.stage NOT IN
          (SELECT downstream FROM cfg WHERE downstream IS NOT NULL)
        UNION ALL
        SELECT c.downstream, w.depth + 1, w.root
        FROM walk w JOIN cfg c
          ON c.stage = w.stage AND c.downstream IS NOT NULL),
      agg AS (SELECT stage, MAX(depth) AS depth, MIN(root) AS root
        FROM walk GROUP BY 1)
      SELECT c.stage, c.input_dir, c.output_dir, c.downstream,
        COALESCE(u.n_upstream, 0) AS n_upstream, a.depth, a.root,
        c.downstream IS NULL AS is_sink
      FROM cfg c LEFT JOIN up u USING (stage) JOIN agg a USING (stage)
      ORDER BY c.stage"""))

  /** Monitor-plane oracle card — the health FEED under the hash gate
    * (round-14 verdict "Next round #6": the [[graft.streaming.MetricsLog]]
    * packet leg was spec-covered but the feed had no declared oracle
    * form). Drives a REAL two-stage [[graft.streaming.PipelineRunner]]
    * run (parity demux of the events table, one input file → one
    * micro-batch per stage, AvailableNow) with MetricsLog publishing
    * BOTH planes — the JSONL health log and the `s/c/l/m` wire packets
    * (the reference monitor's LOGGER_DATA publish,
    * `MFramework.cpp:1593-1655`; `LoggerWriter.cpp:88,208-213`) — then
    * folds the PACKET plane's `m=` payloads to the per-stage card
    * (batches, rows, terminations, exit cleanliness) and cross-checks
    * it cell-for-cell against the SAME fold over the JSONL plane
    * (`planes_agree`). The DuckDB oracle predicts the whole card from
    * the events table alone: the run is deterministic by construction
    * (one file, one batch, parity split, clean stop), so "the monitor
    * saw what the data says it must have seen" is itself hash-checked —
    * the q313 config-plane discipline applied to the monitor plane.
    *
    * The listener bus is async, so the fold waits (bounded) for both
    * terminated lines and for the packet count to match the JSONL line
    * count — every emit writes both planes in one synchronized step.
    * Scale shape: health lines are (stage × batches)-grain — never fact
    * data; the only corpus-sized work is the parity-split stream the
    * card is ABOUT. */
  private val q344 = GQuery(
    "q344_monitor_card",
    (s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("event_type"))
      val base = scratchDir(s, "q344", dir)
      // parity demux at setup: each stage ingests ITS slice, so the
      // monitor's numInputRows (SOURCE rows — a transform-side filter
      // would be invisible to it) is the per-stage prediction; one file
      // per slice → exactly one micro-batch per stage
      ev.filter(col("event_id") % 2 === 0)
        .repartition(1).write.parquet(s"$base/in_mon_even")
      ev.filter(col("event_id") % 2 =!= 0)
        .repartition(1).write.parquet(s"$base/in_mon_odd")
      val ml = new graft.streaming.MetricsLog(s"$base/metrics.jsonl",
        queueDir = Some(s"$base/logq"))
      s.streams.addListener(ml)
      try {
        val runner = new graft.streaming.PipelineRunner(s)
        val sch = ev.schema
        def spec(name: String) = graft.streaming.StageSpec(
          name,
          sp => sp.readStream.schema(sch).parquet(s"$base/in_$name"),
          df => df,
          df => df.writeStream.format("parquet")
            .option("path", s"$base/out_$name")
            .option("checkpointLocation", s"$base/ck_$name")
            .trigger(graft.streaming.Triggers.drainAvailable))
        runner.register(spec("mon_even"))
        runner.register(spec("mon_odd"))
        runner.start("mon_even").awaitTermination()
        runner.start("mon_odd").awaitTermination()
        val deadline = System.nanoTime() + 30L * 1000L * 1000L * 1000L
        def ready(): Boolean = {
          val p = java.nio.file.Paths.get(s"$base/metrics.jsonl")
          java.nio.file.Files.exists(p) && {
            val txt = new String(
              java.nio.file.Files.readAllBytes(p), "UTF-8")
            val lines = txt.split('\n').filter(_.nonEmpty)
            val terms = lines.filter(_.contains("\"event\":\"terminated\""))
            Seq("mon_even", "mon_odd").forall(n =>
              terms.exists(_.contains(s""""stage":"$n""""))) &&
              Option(new java.io.File(s"$base/logq").list())
                .getOrElse(Array.empty[String])
                .count(_.endsWith(".pkt")) == lines.length
          }
        }
        while (!ready() && System.nanoTime() < deadline) Thread.sleep(100)
        val mSchema = StructType.fromDDL(
          "stage STRING, batch_id BIGINT, input_rows BIGINT, " +
            "event STRING, error STRING")
        def fold(msgs: DataFrame): DataFrame = msgs
          .select(from_json(col("m"), mSchema).as("j"))
          .select(col("j.*"))
          .groupBy(col("stage"))
          .agg(
            sum(when(col("batch_id").isNotNull && col("input_rows") > 0,
              1L).otherwise(0L)).as("n_batches"),
            coalesce(sum(col("input_rows")), lit(0L)).as("total_rows"),
            sum(when(col("event") === "terminated", 1L).otherwise(0L))
              .as("n_terminated"),
            min(when(col("event") === "terminated", col("error") === ""))
              .as("clean_exit"))
        val pkFold = fold(s.read.option("wholetext", "true")
          .text(s"$base/logq")
          .select(element_at(graft.etl.PacketCodec.parse(col("value")),
            graft.etl.PacketCodec.MessageKey).as("m")))
        val jsFold = fold(s.read.text(s"$base/metrics.jsonl")
          .select(col("value").as("m")))
        pkFold.alias("p").join(jsFold.alias("j"), Seq("stage"))
          .select(col("stage"),
            col("p.n_batches").as("n_batches"),
            col("p.total_rows").as("total_rows"),
            col("p.n_terminated").as("n_terminated"),
            col("p.clean_exit").as("clean_exit"),
            (col("p.n_batches") === col("j.n_batches") &&
              col("p.total_rows") === col("j.total_rows") &&
              col("p.n_terminated") === col("j.n_terminated") &&
              col("p.clean_exit") === col("j.clean_exit"))
              .as("planes_agree"))
          .orderBy(col("stage"))
          .localCheckpoint() // materialize before /tmp can be recycled
      } finally {
        s.streams.removeListener(ml)
        ml.close()
      }
    },
    Some("""WITH c AS (SELECT
        CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS ev_rows,
        CAST(SUM(CASE WHEN event_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS od_rows
      FROM events)
    SELECT 'mon_even' AS stage, CAST(1 AS BIGINT) AS n_batches,
      ev_rows AS total_rows, CAST(1 AS BIGINT) AS n_terminated,
      TRUE AS clean_exit, TRUE AS planes_agree FROM c
    UNION ALL
    SELECT 'mon_odd', CAST(1 AS BIGINT), od_rows, CAST(1 AS BIGINT),
      TRUE, TRUE FROM c
    ORDER BY stage"""))

  val queries: Seq[GQuery] = Seq(q24, q24b, q24c, q313, q344)
}
