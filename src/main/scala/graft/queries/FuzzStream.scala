package graft.queries

import graft.core.Tables
import graft.streaming.Streams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.DecimalType

/** Randomized differential fuzzing of the STREAMING surface: a seeded
  * generator draws small watermarked windowed-aggregation plans over the
  * events table and executes each one THREE ways — as a multi-micro-batch
  * file-stream replay ([[StreamingQ.stagedEventStream]], state crossing
  * batch boundaries), as the identical DataFrame plan in batch, and (for
  * the fixed driver seeds) as ANSI SQL in DuckDB — all three must agree
  * row-for-row. The batch fuzzer ([[Fuzz]]) explores the relational
  * algebra; this one explores the STATEFUL execution axes none of the
  * hand-written streaming entries can cover combinatorially: window
  * size × group-key arity × pre-watermark filters × aggregate set ×
  * output mode (Complete vs watermark-gated Append).
  *
  * Draw space per seed:
  *  - window of {5, 10, 15, 30, 60} minutes (all divide 24 h, so
  *    Spark's epoch-aligned `window()` and DuckDB's `time_bucket` agree)
  *    × a SLIDE drawn from the window's divisors (round 14): slide ==
  *    window is tumbling; a proper divisor makes every event belong to
  *    exactly window/slide overlapping windows, which the oracle
  *    enumerates with `generate_series` off the event's slide bucket —
  *    both engines align sliding starts to multiples of the slide;
  *  - group keys: optional `event_type`, optional `user_id % m` bucket;
  *  - optional pre-aggregation filter (event-type membership / value
  *    threshold / user-id residue), applied BEFORE `withWatermark` so the
  *    watermark is definitively computed over the FILTERED stream — the
  *    placement question (does a pushed filter see the watermark node or
  *    not?) never arises because the plan states it explicitly, and the
  *    oracle's cutoff reads `max(ts) FROM f` (filtered) accordingly;
  *  - aggregates: `count(*)` always, optional exact-DECIMAL `sum(value)`,
  *    optional `max(ts)` (both bit-exact across engines);
  *  - output mode: Complete (every window, the batch equivalence) or
  *    Append (only windows the final watermark finalized — inclusive at
  *    `end == wm`, the StreamSessionWindowSpec-pinned bound, stated by
  *    the oracle as `epoch_us(window_end) <= w` with w = ms-truncated
  *    max filtered event time minus the 30-minute delay).
  *
  * FuzzStreamSpec soaks N seeds stream-vs-batch per run (knob
  * SPARK_GRAFT_FUZZ_STREAMS); the fixed [[driverSeeds]] are exported as
  * `q_fuzzst_*` entries whose SQL rendering IS the DuckDB oracle, so the
  * driver cross-checks the streaming engine against a second engine
  * every round — the only streaming state machine in the inventory under
  * a RANDOMIZED cross-engine oracle.
  */
object FuzzStream {

  final case class SPlan(seed: Long) {
    private val rnd = new scala.util.Random(seed * 7919 + 13)
    val winMin: Int = Seq(5, 10, 15, 30, 60)(rnd.nextInt(5))
    val keyEvent: Boolean = rnd.nextBoolean()
    val userMod: Option[Int] =
      if (rnd.nextBoolean()) Some(Seq(3, 5, 7)(rnd.nextInt(3))) else None
    val filtKind: Int = rnd.nextInt(4)
    val filtTypes: Seq[String] = {
      val all = Seq("click", "view", "purchase", "signup", "error")
      rnd.shuffle(all).take(2 + rnd.nextInt(2)).sorted
    }
    val filtValue: Double = Seq(25.0, 50.0, 100.0)(rnd.nextInt(3))
    val filtMod: (Int, Int) = {
      val p = Seq(2, 3, 5)(rnd.nextInt(3)); (p, rnd.nextInt(p))
    }
    val sumVal: Boolean = rnd.nextBoolean()
    val maxTs: Boolean = rnd.nextBoolean()
    val append: Boolean = rnd.nextBoolean()
    /** Sliding-window draw (round 14, appended LAST so earlier fields
      * keep their per-seed values): slide from the divisors of the
      * window that the engines' shared alignment supports — Spark
      * aligns sliding starts to multiples of the SLIDE, exactly
      * `time_bucket(slide)`'s grid, and slide | window keeps the
      * windows-per-event count at the constant window/slide. slide ==
      * window is a tumbling draw, so the family subsumes the original
      * generator. */
    val slideMin: Int = {
      val cands = Seq(winMin) ++
        Seq(5, 10, 15, 30).filter(s => s < winMin && winMin % s == 0)
      cands(rnd.nextInt(cands.size))
    }
    /** Session-window draw (round 14, appended after the slide draw):
      * 0 keeps the time-window families above; a positive gap turns the
      * plan into per-user sessionization (`session_window`, keyed by
      * user_id plus the optional event_type; the user-bucket key is
      * dropped — it is functionally dependent on user_id). The oracle
      * reuses the gaps-and-islands formulation StreamSessionWindowSpec
      * pinned: break at `ts > lag + gap`, end = max member ts + gap,
      * append emission inclusive at `end <= wm`. */
    val sessionGapMin: Int = Seq(0, 0, 10, 20)(rnd.nextInt(4))
    def isSession: Boolean = sessionGapMin > 0

    def describe: String = {
      val k = (if (keyEvent) Seq("event_type") else Nil) ++
        userMod.map(m => s"user_id%$m")
      val f = filtKind match {
        case 0 => "none"
        case 1 => s"type IN ${filtTypes.mkString("/")}"
        case 2 => s"value >= $filtValue"
        case 3 => s"user_id % ${filtMod._1} = ${filtMod._2}"
      }
      val a = Seq("count") ++ (if (sumVal) Seq("dsum") else Nil) ++
        (if (maxTs) Seq("max_ts") else Nil)
      val w =
        if (isSession) s"session gap=${sessionGapMin}m"
        else if (slideMin == winMin) s"win=${winMin}m"
        else s"win=${winMin}m/slide=${slideMin}m"
      val ks = if (isSession) sessKeyNames else keyNames
      s"$w keys=[${ks.mkString(",")}] filter=[$f] " +
        s"aggs=[${a.mkString(",")}] mode=${if (append) "append" else "complete"}"
    }

    private def filterCol: Option[Column] = filtKind match {
      case 0 => None
      case 1 => Some(col("event_type").isin(filtTypes: _*))
      case 2 => Some(col("value") >= lit(filtValue))
      case 3 => Some(pmod(col("user_id"), lit(filtMod._1)) === lit(filtMod._2))
    }

    private def filterSql: String = filtKind match {
      case 0 => "TRUE"
      case 1 => s"event_type IN (${filtTypes.map(t => s"'$t'").mkString(", ")})"
      case 2 => s"value >= $filtValue"
      case 3 => s"user_id % ${filtMod._1} = ${filtMod._2}"
    }

    private def keyCols: Seq[Column] =
      (if (keyEvent) Seq(col("event_type")) else Nil) ++
        userMod.map(m => pmod(col("user_id"), lit(m)).as("ub")).toSeq

    private def keyNames: Seq[String] =
      (if (keyEvent) Seq("event_type") else Nil) ++
        userMod.map(_ => "ub").toSeq

    private def sessKeyCols: Seq[Column] =
      col("user_id") +: (if (keyEvent) Seq(col("event_type")) else Nil)

    private def sessKeyNames: Seq[String] =
      "user_id" +: (if (keyEvent) Seq("event_type") else Nil)

    /** The aggregation plan over any events frame — the SAME code runs
      * streaming (micro-batch state) and batch (`withWatermark` is a
      * no-op on bounded frames), which is the differential's point. */
    def aggPlan(events: DataFrame): DataFrame = {
      val filtered = filterCol.fold(events)(events.filter)
      val aggs = Seq(count(lit(1)).as("n")) ++
        (if (sumVal)
          Seq(sum(col("value").cast(DecimalType(18, 2))).cast("double")
            .as("sum_value"))
        else Nil) ++
        (if (maxTs) Seq(max(col("ts")).as("max_ts")) else Nil)
      val wcol =
        if (isSession) session_window(col("ts"), s"$sessionGapMin minutes")
        else window(col("ts"), s"$winMin minutes", s"$slideMin minutes")
      filtered
        .withWatermark("ts", "30 minutes")
        .groupBy(wcol.as("w") +:
          (if (isSession) sessKeyCols else keyCols): _*)
        .agg(aggs.head, aggs.tail: _*)
        .select(Seq(col("w.start").as("window_start"),
          col("w.end").as("window_end")) ++
          (if (isSession) sessKeyNames else keyNames).map(col) ++
          Seq(col("n")) ++
          (if (sumVal) Seq(col("sum_value")) else Nil) ++
          (if (maxTs) Seq(col("max_ts")) else Nil): _*)
    }

    private def orderCols: Seq[Column] =
      col("window_start") +:
        (if (isSession) sessKeyNames else keyNames).map(col)

    /** Multi-micro-batch streaming execution through the memory sink. */
    def runStream(s: SparkSession, dir: String): DataFrame = {
      val agg = aggPlan(StreamingQ.stagedEventStream(s, dir, "fuzzst"))
      val mode = if (append) OutputMode.Append() else OutputMode.Complete()
      Streams.runToMemory(agg, s"q_fuzzst_${seed}_sink", mode)
        .orderBy(orderCols: _*)
    }

    /** Batch twin: identical plan on the bounded table; in append mode
      * the finalized-set cutoff is applied from the same watermark
      * arithmetic the streaming engine uses (ms-truncated max filtered
      * event time − delay, INCLUSIVE at the bound). The scalar max is a
      * spec-harness collect, not an engine path. */
    def runBatch(s: SparkSession, dir: String): DataFrame = {
      val events = Tables(s, dir, "events")
      val agg = aggPlan(events)
      val cut =
        if (!append) agg
        else {
          val fil = filterCol.fold(events)(events.filter)
          val mx = fil.agg(max(col("ts"))).collect()(0).getTimestamp(0)
          if (mx == null) agg.limit(0)
          else {
            val wm = new java.sql.Timestamp(mx.getTime - 30L * 60 * 1000)
            agg.filter(col("window_end") <= lit(wm))
          }
        }
      cut.orderBy(orderCols: _*)
    }

    /** DuckDB rendering (the driver-seed oracle). */
    def sql: String = if (isSession) sessionSql else windowSql

    /** Session rendering: the gaps-and-islands formulation the session
      * entries pinned (break `ts > lag + gap`, end = max ts + gap,
      * append cutoff inclusive), per (user_id[, event_type]). */
    private def sessionSql: String = {
      val keys = sessKeyNames.mkString(", ")
      val aggSel = Seq("count(*) AS n") ++
        (if (sumVal) Seq(s"${Sql.dsum("value")} AS sum_value") else Nil) ++
        (if (maxTs) Seq("max(ts) AS max_ts") else Nil)
      val outCols = Seq("window_start", "window_end") ++ sessKeyNames ++
        Seq("n") ++ (if (sumVal) Seq("sum_value") else Nil) ++
        (if (maxTs) Seq("max_ts") else Nil)
      val ord = ("window_start" +: sessKeyNames).mkString(", ")
      val base =
        s"""WITH f AS (SELECT * FROM events WHERE $filterSql),
           |g AS (
           |  SELECT $keys, event_id, ts, value,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |              OR ts > lag(ts) OVER w
           |                 + INTERVAL '$sessionGapMin minutes'
           |         THEN 1 ELSE 0 END AS brk
           |  FROM f
           |  WINDOW w AS (PARTITION BY $keys ORDER BY ts, event_id)
           |), sess AS (
           |  SELECT $keys, ts, value,
           |    sum(brk) OVER (PARTITION BY $keys ORDER BY ts, event_id
           |                   ROWS UNBOUNDED PRECEDING) AS sid
           |  FROM g
           |), a AS (
           |  SELECT min(ts) AS window_start,
           |    max(ts) + INTERVAL '$sessionGapMin minutes' AS window_end,
           |    $keys, ${aggSel.mkString(", ")}
           |  FROM sess GROUP BY $keys, sid
           |)""".stripMargin
      if (!append)
        s"""$base
           |SELECT ${outCols.mkString(", ")} FROM a
           |ORDER BY $ord
           |""".stripMargin
      else
        s"""$base,
           |wm AS (
           |  SELECT ((SELECT max(epoch_us(ts)) FROM f) // 1000
           |          - 1800000) * 1000 AS w)
           |SELECT ${outCols.mkString(", ")} FROM a, wm
           |WHERE epoch_us(window_end) <= w
           |ORDER BY $ord
           |""".stripMargin
    }

    private def windowSql: String = {
      val keySel = (if (keyEvent) Seq("event_type") else Nil) ++
        userMod.map(m => s"user_id % $m AS ub").toSeq
      val keyGrp = (if (keyEvent) Seq("event_type") else Nil) ++
        userMod.map(_ => "ub").toSeq
      val aggSel = Seq("count(*) AS n") ++
        (if (sumVal) Seq(s"${Sql.dsum("value")} AS sum_value") else Nil) ++
        (if (maxTs) Seq("max(ts) AS max_ts") else Nil)
      val outCols = Seq("window_start", "window_end") ++ keyGrp ++
        Seq("n") ++ (if (sumVal) Seq("sum_value") else Nil) ++
        (if (maxTs) Seq("max_ts") else Nil)
      val ord = ("window_start" +: keyGrp).mkString(", ")
      val bucket = s"time_bucket(INTERVAL '$slideMin minutes', ts)"
      // tumbling: the event's one bucket IS the window start; sliding:
      // the event belongs to exactly window/slide windows whose starts
      // step back from its slide bucket — both engines align starts to
      // multiples of the slide, so the enumerated grid matches Spark's
      val from =
        if (slideMin == winMin) s"(SELECT $bucket AS window_start, * FROM f) e"
        else
          s"""f, UNNEST(generate_series(
             |      $bucket - INTERVAL '${winMin - slideMin} minutes',
             |      $bucket, INTERVAL '$slideMin minutes'))
             |      AS gs(window_start)""".stripMargin
      val base =
        s"""WITH f AS (SELECT * FROM events WHERE $filterSql),
           |a AS (
           |  SELECT window_start,
           |    window_start + INTERVAL '$winMin minutes' AS window_end${
            if (keySel.nonEmpty) ",\n    " + keySel.mkString(", ") else ""},
           |    ${aggSel.mkString(", ")}
           |  FROM $from
           |  GROUP BY ${("window_start" +: "window_end" +: keyGrp).mkString(", ")}
           |)""".stripMargin
      if (!append)
        s"""$base
           |SELECT ${outCols.mkString(", ")} FROM a
           |ORDER BY $ord
           |""".stripMargin
      else
        s"""$base,
           |wm AS (
           |  SELECT ((SELECT max(epoch_us(ts)) FROM f) // 1000
           |          - 1800000) * 1000 AS w)
           |SELECT ${outCols.mkString(", ")} FROM a, wm
           |WHERE epoch_us(window_end) <= w
           |ORDER BY $ord
           |""".stripMargin
    }
  }

  /** Randomized STREAM-STREAM INTERVAL JOIN plans (round 15 — the other
    * stateful family: FuzzStream's agg draws cover the windowed-state
    * machine, these cover the symmetric-hash-join state machine the
    * three hand-written `q_stream_join*` entries pin by hand). A new
    * draw FAMILY gets its own generator class rather than fields
    * appended to [[SPlan]]: the plan shape (no window, two watermarked
    * sides, a join-type axis, pair output) shares nothing with the agg
    * family, and a separate seed space keeps every existing `q_fuzzst_*`
    * seed's draws byte-identical — the same stability discipline as
    * round 14's append-last rule, applied at the family level.
    *
    * Draw space per seed: left/right event types (distinct — the
    * attribution shape), interval I ∈ {10, 30, 60} min, watermark delay
    * D ∈ {10, 30} min (same on both sides, like the hand-written
    * entries), join type ∈ {inner, leftOuter, fullOuter}. The condition
    * is the proven half-open attribution interval
    * `lu = ru AND rts ∈ [lts − I, lts)`, so the emission bounds
    * generalize the StreamOuterJoinSpec-pinned arithmetic parametrically:
    * with global watermark w = min(max lts, max rts) − D (ms-truncated
    * per side's EventTimeStats), an unmatched LEFT row's NULL verdict is
    * final iff `lts ≤ w` (any future right has rts ≥ w ≥ lts, violating
    * `rts < lts` already at equality), and an unmatched RIGHT row's iff
    * `rts < w − I` (a future left at lts = w still reaches rights with
    * rts ≥ w − I). The oracle states exactly those bounds; rows above
    * them stay buffered when the replay ends, as on a real unbounded
    * stream. Inner matches emit unconditionally (chronological replay —
    * both sides have always arrived by the time the later one lands).
    * FuzzStreamSpec soaks seeds stream-vs-batch; [[joinDriverSeeds]]
    * export as `q_fuzzstj_*` under the DuckDB oracle. */
  final case class JPlan(seed: Long) {
    private val rnd = new scala.util.Random(seed * 104729 + 17)
    val sides: Seq[String] = rnd.shuffle(
      Seq("click", "view", "purchase", "signup", "error")).take(2)
    val leftType: String = sides.head
    val rightType: String = sides(1)
    val intervalMin: Int = Seq(10, 30, 60)(rnd.nextInt(3))
    val delayMin: Int = Seq(10, 30)(rnd.nextInt(2))
    val joinType: String =
      Seq("inner", "leftOuter", "fullOuter")(rnd.nextInt(3))

    def describe: String =
      s"$joinType $leftType<-$rightType I=${intervalMin}m D=${delayMin}m"

    private def side(events: DataFrame, tpe: String, p: String): DataFrame =
      events.filter(col("event_type") === tpe)
        .select(col("event_id").as(s"${p}id"), col("user_id").as(s"${p}u"),
          col("ts").as(s"${p}ts"))
        .withWatermark(s"${p}ts", s"$delayMin minutes")

    private def cond: String =
      s"lu = ru AND rts >= lts - interval $intervalMin minutes AND rts < lts"

    /** Multi-micro-batch streaming execution through the memory sink. */
    def runStream(s: SparkSession, dir: String): DataFrame = {
      val stream = StreamingQ.stagedEventStream(s, dir, "fuzzstj")
      val joined = side(stream, leftType, "l")
        .join(side(stream, rightType, "r"), expr(cond), joinType)
        .select(col("lid").cast("long").as("lid"),
          col("rid").cast("long").as("rid"))
      Streams.runToMemory(joined, s"q_fuzzstj_${seed}_sink",
          OutputMode.Append())
        .orderBy(asc_nulls_first("lid"), asc_nulls_first("rid"))
    }

    /** Batch twin: inner matches as a plain join; outer verdicts applied
      * from the same watermark arithmetic the streaming engine uses (the
      * scalar maxes are a spec-harness collect, not an engine path). */
    def runBatch(s: SparkSession, dir: String): DataFrame = {
      val events = Tables(s, dir, "events")
      val l = events.filter(col("event_type") === leftType)
        .select(col("event_id").as("lid"), col("user_id").as("lu"),
          col("ts").as("lts"))
      val r = events.filter(col("event_type") === rightType)
        .select(col("event_id").as("rid"), col("user_id").as("ru"),
          col("ts").as("rts"))
      val m = l.join(r, expr(cond), "inner")
      val matches = m.select(col("lid").cast("long").as("lid"),
        col("rid").cast("long").as("rid"))
      val mxL = l.agg(max(col("lts"))).collect()(0).getTimestamp(0)
      val mxR = r.agg(max(col("rts"))).collect()(0).getTimestamp(0)
      val out =
        if (mxL == null || mxR == null) matches
        else {
          val wMs = math.min(mxL.getTime, mxR.getTime) - delayMin * 60000L
          val w = new java.sql.Timestamp(wMs)
          val wRight = new java.sql.Timestamp(wMs - intervalMin * 60000L)
          val lNulls = l.join(m.select(col("lid")), Seq("lid"), "left_anti")
            .filter(col("lts") <= lit(w))
            .select(col("lid").cast("long").as("lid"),
              lit(null).cast("long").as("rid"))
          val rNulls = r.join(m.select(col("rid")), Seq("rid"), "left_anti")
            .filter(col("rts") < lit(wRight))
            .select(lit(null).cast("long").as("lid"),
              col("rid").cast("long").as("rid"))
          joinType match {
            case "inner" => matches
            case "leftOuter" => matches.unionByName(lNulls)
            case _ => matches.unionByName(lNulls).unionByName(rNulls)
          }
        }
      out.orderBy(asc_nulls_first("lid"), asc_nulls_first("rid"))
    }

    /** DuckDB rendering (the driver-seed oracle) — the emission bounds
      * stated arithmetically, lid/rid BIGINT on both engines, NULLS
      * FIRST explicit on both renderings. */
    def sql: String = {
      val base =
        s"""WITH l AS (
           |  SELECT event_id AS lid, user_id AS lu, ts AS lts
           |  FROM events WHERE event_type = '$leftType'),
           |r AS (
           |  SELECT event_id AS rid, user_id AS ru, ts AS rts
           |  FROM events WHERE event_type = '$rightType'),
           |m AS (
           |  SELECT lid, rid FROM l JOIN r ON lu = ru
           |    AND rts >= lts - INTERVAL $intervalMin MINUTE AND rts < lts),
           |wm AS (
           |  SELECT (least((SELECT max(epoch_us(lts)) FROM l),
           |                (SELECT max(epoch_us(rts)) FROM r)) // 1000
           |          - ${delayMin * 60000L}) * 1000 AS w)""".stripMargin
      val lHalf =
        s"""UNION ALL
           |SELECT lid, CAST(NULL AS BIGINT) AS rid
           |FROM l, wm
           |WHERE lid NOT IN (SELECT lid FROM m) AND epoch_us(lts) <= w""".stripMargin
      val rHalf =
        s"""UNION ALL
           |SELECT CAST(NULL AS BIGINT) AS lid, rid
           |FROM r, wm
           |WHERE rid NOT IN (SELECT rid FROM m)
           |  AND epoch_us(rts) < w - ${intervalMin * 60000000L}""".stripMargin
      val halves = joinType match {
        case "inner" => ""
        case "leftOuter" => "\n" + lHalf
        case _ => "\n" + lHalf + "\n" + rHalf
      }
      s"""$base
         |SELECT lid, rid FROM m$halves
         |ORDER BY lid NULLS FIRST, rid NULLS FIRST
         |""".stripMargin
    }
  }

  /** Fixed driver seeds under the DuckDB oracle, picked for draw
    * diversity (see each seed's `describe` in FuzzStreamSpec output):
    * 3 = SESSION append (gap 20 m + residue filter — watermark-gated
    * session finalization under the islands oracle); 4 = tumbling
    * append + type filter, event_type-keyed, 5-minute windows; 6 =
    * SLIDING complete (60 m / 10 m, two keys, max_ts); 7 = tumbling
    * complete, user-bucket keyed, unfiltered; 9 = SLIDING append
    * (30 m / 15 m — the watermark cutoff over overlapping windows) +
    * value threshold; 11 = SESSION complete (gap 20 m + value
    * threshold, max_ts); 12 = tumbling append, TWO keys, type filter,
    * max_ts. Together: both output modes × all three window families
    * (tumbling, sliding, session), all three filter families plus
    * unfiltered, both optional aggregates, and 0/1/2-key groupings. */
  val driverSeeds: Seq[Long] = Seq(3L, 4L, 6L, 7L, 9L, 11L, 12L)

  /** Fixed [[JPlan]] driver seeds under the DuckDB oracle (round 15),
    * picked for draw diversity: 2 = FULL OUTER, I=10 m, D=30 m (both
    * sides' verdicts under the deep-delay watermark); 7 = LEFT OUTER,
    * I=60 m, D=10 m (the I ≠ D regime — right-side eviction bound
    * w − I crosses zero matches differently than the hand-written
    * I = D entries); 10 = FULL OUTER, I=10 m, D=10 m; 13 = INNER,
    * I=30 m, D=30 m (the pure match stream — no verdict arithmetic).
    * Together: all three join types, I ∈ {10, 30, 60}, D ∈ {10, 30},
    * and six distinct event-type side pairs. */
  val joinDriverSeeds: Seq[Long] = Seq(2L, 7L, 10L, 13L)

  val all: Seq[Q] = driverSeeds.map { s =>
    val p = SPlan(s)
    Q(s"q_fuzzst_$s", (spark, dir) => p.runStream(spark, dir), Some(p.sql))
  } ++ joinDriverSeeds.map { s =>
    val p = JPlan(s)
    Q(s"q_fuzzstj_$s", (spark, dir) => p.runStream(spark, dir), Some(p.sql))
  }
}
