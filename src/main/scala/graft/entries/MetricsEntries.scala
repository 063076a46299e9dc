package graft.entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.entries.Fixtures._
import graft.functions.{KeyFns, TimeFns}
import graft.metrics.MetricsJob
import graft.model._
import graft.operators.{AlarmStateMachine, Dashboards, EnrichmentJoins, Incidents, RecordShape, StatWindowAgg}
import graft.registry.DefinitionExport

/** Metrics / alarms / definitions / dashboards domain: the reference's
  * core surface (SURVEY §2 O-1..O-25, O-30..O-38) as declared queries
  * with registry-generated DuckDB oracles. */
private[graft] object MetricsEntries {

  private def lastDimValue(m: MetricLike): String =
    m.dimensions.filterNot(_.name.endsWith("Bucket")).lastOption
      .map(_.value).getOrElse("")

  /** SLA config rows for the alarm state machine. */
  private def slasDf(s: SparkSession): DataFrame = {
    import s.implicits._
    reg.defaultDefinition.allSlas.map { sla =>
      (sla.metric.uniqueId, sla.metric.period, sla.threshold,
        sla.comparisonOperator.name, sla.datapointsToAlarm,
        sla.evaluationPeriods, sla.treatMissingData.name)
    }.toDF("series_id", "period", "threshold", "comparison_operator",
      "datapoints_to_alarm", "evaluation_periods", "treat_missing_data")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O-1/7/15/16/19: business metrics — SQL → scalar → publish rows.
    "bm_published" -> ((s, dir) => MetricsJob.run(s, dir).orderBy("name")),

    // O-12/14/17: statistic window aggregation at hour frequency.
    "q_stat_windows" -> { (s, dir) =>
      StatWindowAgg.aggregate(datapoints(s, dir), seriesKeysDf(s), "hour")
        .orderBy("series_id", "window_start")
    },

    // O-13: 10-minute end-time alignment.
    "q_align10" -> { (s, dir) =>
      ev(s, dir).select(TimeFns.alignEnd10MinEpoch(col("ts")).as("aligned"))
        .distinct().orderBy("aligned")
    },

    // O-30/31: key derivations as columns, cross-validated against the
    // model-side Scala derivations embedded in the oracle.
    "q_unique_ids" -> { (s, dir) =>
      import s.implicits._
      val defs = reg.allAccounts.flatMap(_.metricSets).flatMap(_.metrics)
        .map(m => (m.namespace, m.name, m.frequency.name,
          m.dimensions.map(d => (d.name, d.value))))
        .toDF("namespace", "name", "frequency", "dims")
      val activeDims = filter(col("dims"), d => !d.getField("_1").endsWith("Bucket"))
      val dimConcat = aggregate(activeDims, lit(""),
        (acc, d) => concat(acc, d.getField("_1"), d.getField("_2")))
      val alarmConcat = aggregate(activeDims, lit(""),
        (acc, d) => concat(acc, d.getField("_1"), lit("-"), d.getField("_2"), lit("-")))
      val dimValues = aggregate(activeDims, lit(""),
        (acc, d) => concat(acc, d.getField("_2")))
      defs.select(col("namespace"), col("name"), col("frequency"),
          KeyFns.uniqueId(col("namespace"), col("name"), col("frequency"), dimConcat)
            .as("unique_id"),
          lower(regexp_replace(concat(concat_ws("-", col("namespace"), col("name"),
            col("frequency")), lit("-"), alarmConcat), "/", "")).as("alarm_uid"),
          KeyFns.widgetTitle(col("name"), col("frequency"), dimValues).as("widget_title"))
        .orderBy("unique_id")
    },

    // O-23: alarm state machine, batch variant over hourly windows.
    "q_alarm_batch" -> { (s, dir) =>
      val series = StatWindowAgg.aggregate(datapoints(s, dir), seriesKeysDf(s), "hour")
        .select("series_id", "window_start", "metricvalue")
      AlarmStateMachine.evaluate(series, slasDf(s))
        .select("series_id", "window_start", "metricvalue", "breaching",
          "statevalue", "prev_state", "transitioned")
        .orderBy("series_id", "window_start")
    },

    // O-23 streaming parity: the SAME raw datapoints replayed through
    // StreamingAlarmPipeline via MemoryStream (one deterministic batch
    // + per-series watermark sentinels, PipelineReplay.replayTransitions)
    // must emit the batch machine's exact transition stream. The oracle
    // recomputes the batch transitions in SQL and pins in_stream /
    // prev_match / state_match TRUE — any divergence (missing, extra,
    // or state-mismatched streaming transition) flips a pinned column
    // or the row count. ONE evaluateStream run covers all SLAs: each
    // SLA row carries its own CW statistic (Sum / Average / Maximum),
    // exactly as CloudWatch scopes the statistic to the alarm.
    "q_alarm_stream_parity" -> { (s, dir) =>
      import s.implicits._
      val statBySid = reg.defaultDefinition.allSlas
        .map(sla => sla.metric.uniqueId -> sla.metric.statistic).toMap
      val sids = statBySid.keys.toSeq
      // NOT persisted: the fixture collect touches 3 series and the
      // batch side aggregates before joining — materializing the whole
      // raw fan-out costs more than the duplicate pruned scan saves
      // (measured level on the parity-only bench)
      val raw = datapoints(s, dir)
      val pts = raw
        .filter(col("series_id").isin(sids: _*))
        .select(col("series_id"), col("ts"), col("value").cast("double"))
        .as[(String, java.sql.Timestamp, Double)]
        .collect().toSeq // verification fixture, bounded per series
      val statExpr = statBySid.foldLeft(lit(null).cast("string")) {
        case (acc, (sid, st)) => when(col("series_id") === sid, st).otherwise(acc)
      }
      val streamed = graft.streaming.PipelineReplay.replayTransitions(
        s, pts, slasDf(s).withColumn("statistic", statExpr))
      val streamDf = streamed
        .map(t => (t.seriesId, t.windowStart, t.prevState, t.newState))
        .toDF("series_id", "window_start", "s_prev", "s_new")
      val series = StatWindowAgg.aggregate(raw, seriesKeysDf(s), "hour")
        .select("series_id", "window_start", "metricvalue")
      val batchT = AlarmStateMachine.evaluate(series, slasDf(s))
        .filter(col("transitioned"))
        .select("series_id", "window_start", "metricvalue", "prev_state",
          "statevalue")
      batchT.join(streamDf, Seq("series_id", "window_start"), "full_outer")
        .select(col("series_id"), col("window_start"), col("metricvalue"),
          col("prev_state"), col("statevalue"),
          col("s_prev").isNotNull.as("in_stream"),
          (col("s_prev") <=> col("prev_state")).as("prev_match"),
          (col("s_new") <=> col("statevalue")).as("state_match"))
        .orderBy("series_id", "window_start")
    },

    // O-21 + O-24: alarm snapshot enrichment via the derived-key
    // broadcast join, projected to the slas record shape.
    "q_sla_snapshot" -> { (s, dir) =>
      import s.implicits._
      val alarms = reg.defaultDefinition.allSlas.map { sla =>
        val m = sla.metric
        (s"arn:local:alarm/${m.alarmUniqueId}", m.alarmName(reg.DefaultRegion),
          sla.threshold, sla.comparisonOperator.name, sla.treatMissingData.name,
          "OK", "Threshold not crossed")
      }.toDF("alarmarn", "alarmname", "threshold", "comparisonoperator",
        "treatmissingdata", "statevalue", "statereason")
      val enriched = EnrichmentJoins.enrichAlarms(alarms, seriesKeysDf(s))
      Incidents.toSlaRecords(enriched, reg.DefaultAccount, 0L).orderBy("alarmname")
    },

    // O-22 + O-25: alarm → SLA membership resolution → incident rows.
    "q_incidents" -> { (s, dir) =>
      import s.implicits._
      val alarms = reg.defaultDefinition.allSlas.map { sla =>
        (sla.metric.alarmName(reg.DefaultRegion), "ALARM: breach detected")
      }.toDF("alarmname", "subject")
      val slaDefs = reg.defaultDefinition.allSlas.map { sla =>
        val m = sla.metric
        (m.name, m.frequency.name, lastDimValue(m), sla.details,
          sla.shortDescription, sla.severity, sla.snsEnabled, m.metadata)
      }.toDF("metric_name", "frequency", "dimension_value", "details",
        "short_description", "severity", "sns_enabled", "metadata_entries")
      val resolved = EnrichmentJoins.resolveSlas(alarms, slaDefs)
        .withColumn("reference_id", Incidents.referenceId(col("metadata_entries")))
      Incidents.toIncidents(resolved).orderBy("unique_id")
    },

    // O-12/20/33/34/35 + O-9 shape: full enriched metrics_* records.
    "q_metrics_records" -> { (s, dir) =>
      val agg = StatWindowAgg.aggregate(datapoints(s, dir), seriesKeysDf(s))
        .drop("statistic", "period")
      val results = agg.withColumnRenamed("series_id", "id")
      val enriched = EnrichmentJoins.enrichResults(results, seriesKeysDf(s))
        .withColumnRenamed("id", "series_id")
      RecordShape.toMetricsRecords(enriched, reg.DefaultAccount,
        reg.DefaultRegion, 0L).orderBy("id", "window_start")
    },

    // O-36: dashboard dedup + grouping over derived widget titles.
    "q_dashboard" -> { (s, dir) =>
      import s.implicits._
      val rows = reg.allAccounts.flatMap(_.metricSets).flatMap(_.metrics)
        .map(m => (m.dashboard.dashboardName, m.name, m.frequency.name,
          m.dimensions.filterNot(_.name.endsWith("Bucket")).map(_.value).mkString))
        .toDF("dashboard", "name", "frequency", "dimvalues")
      val titled = rows.select(col("dashboard"),
        KeyFns.widgetTitle(col("name"), col("frequency"), col("dimvalues"))
          .as("widget_title"))
      Dashboards.group(titled)
        .select(col("dashboard"), array_join(col("widgets"), "|").as("widgets_str"),
          col("n_widgets"))
        .orderBy("dashboard")
    },

    // O-36 completion: the rendered-widget layer — per-metric graph
    // widgets plus category dashboards' markdown link widgets
    // (metrics_streamer.py:345-415), as one dashboards table.
    "q_dashboard_widgets" -> { (s, dir) =>
      import s.implicits._
      val rows = reg.allAccounts.flatMap(_.metricSets).flatMap(_.metrics)
        .map(m => (m.dashboard.dashboardName, m.dashboard.dashboardCategory,
          m.name, m.frequency.name,
          m.dimensions.filterNot(_.name.endsWith("Bucket")).map(_.value).mkString))
        .toDF("dashboard", "category", "name", "frequency", "dimvalues")
      val titled = rows.withColumn("widget_title",
        KeyFns.widgetTitle(col("name"), col("frequency"), col("dimvalues")))
      Dashboards.graphWidgets(titled, reg.DefaultRegion)
        .unionByName(Dashboards.categoryTextWidgets(rows, reg.DefaultRegion,
          reg.DefaultAccount))
        .orderBy("dashboard_name", "widget_type", "content")
    },

    // O-11 / O-5: definition metadata tables.
    "q_defs_metrics" -> { (s, dir) =>
      DefinitionExport.metricDefs(s, reg.allAccounts)
        .orderBy("namespace", "name", "frequency")
    },
    "q_defs_slas" -> { (s, dir) =>
      DefinitionExport.slaDefs(s, reg.allAccounts)
        .orderBy("metric_namespace", "metric_name")
    },

    // Exact percentile statistic variant of O-12 (p50 over hourly
    // windows per event type).
    "q_stat_p50" -> { (s, dir) =>
      val dp = ev(s, dir).select(col("event_type").as("series_id"), col("ts"),
        col("value"))
      dp.groupBy(col("series_id"),
          (floor(unix_timestamp(col("ts")) / 3600) * 3600).cast("long")
            .as("window_start"))
        .agg(expr("percentile(value, 0.5)").as("p50"))
        .orderBy("series_id", "window_start")
    },

    // O-3: prefix-filtered alarm-state scan.
    "q_alarm_scan" -> { (s, dir) =>
      import s.implicits._
      val names = reg.defaultDefinition.allSlas
        .map(sla => sla.metric.alarmName(reg.DefaultRegion)) ++
        Seq("unrelated-alarm-1", "third-party-xyz")
      names.toDF("alarmname")
        .filter(col("alarmname").startsWith("data-gov"))
        .orderBy("alarmname")
    },

    // JSON property extraction from the events props column.
    "q_props_parse" -> { (s, dir) =>
      ev(s, dir)
        .select(col("event_type"),
          from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")).getField("k").as("k"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n"))
        .orderBy("event_type")
    },

    // O-8: JSON-serialized record stream shape (Kinesis put_records
    // payload stand-in).
    "q_record_json" -> { (s, dir) =>
      ev(s, dir).filter(col("event_id") < 100)
        .select(to_json(struct(col("event_id"), col("event_type"))).as("payload"))
        .orderBy("payload")
    },

    // O-18: MetricStream flattening — sets arrive as one row per SET
    // carrying an array of metric structs, and the ENGINE does the
    // flatten (explode) + per-frequency batch-entry projection
    // (stream.py:20-45's flatMap + filter + MetricDataQuery render).
    // The oracle is built from the MODEL-side MetricStream
    // .metricDataQueries, so the columnar path and the Scala model
    // path cross-validate row for row.
    "q_stream_queries" -> { (s, dir) =>
      import s.implicits._
      // dims arrive pre-rendered in the shared jsonObject convention
      // (the defs tables' format): the operator under test here is the
      // flatten + filter + projection, not the entries→JSON fold
      // (that is O-33, covered by q_metrics_records)
      val sets = reg.allAccounts.flatMap(_.metricSets).map(ms =>
        (ms.name, ms.metrics.map(m => (m.uniqueId, m.namespace, m.name,
          m.frequency.name, m.period, m.statistic,
          if (m.dimensions.isEmpty) null
          else DefinitionExport.jsonObject(m.dimensions.map(x => x.name -> x.value))))))
        .toDF("set_name", "metrics")
      sets.select(explode(col("metrics")).as("m"))
        .select(col("m._1").as("id"), col("m._2").as("namespace"),
          col("m._3").as("name"), col("m._4").as("batch_frequency"),
          col("m._5").cast("int").as("period"), col("m._6").as("stat"),
          col("m._7").as("dims"))
        .filter(col("batch_frequency").isin(Frequency.all.map(_.name): _*))
        .orderBy("batch_frequency", "id")
    },

    // O-34: newest-datapoint head with null-safe fallback
    // (metric_stream_producer.py:127-128 — CloudWatch returns values
    // newest-first; an empty Values array must become null, not an
    // out-of-bounds error). `newest_value` exercises the populated
    // path on a real newest-first array per series; `newest_high`
    // filters the array above the data's value envelope so EVERY row
    // exercises the empty-array fallback.
    "q_array_head" -> { (s, dir) =>
      val newestFirst = sort_array(
        collect_list(struct(col("ts"), col("event_id"), col("value"))),
        asc = false)
      ev(s, dir).groupBy("event_type")
        .agg(newestFirst.as("dps"))
        .select(col("event_type"),
          RecordShape.arrayHead(col("dps")).getField("value").as("newest_value"),
          RecordShape.arrayHead(filter(col("dps"),
            d => d.getField("value") > lit(1e6)))
            .getField("value").as("newest_high"))
        .orderBy("event_type")
    },

    // O-37: scheduler fire-map — for the span of the events table,
    // how many top-of-period firings each frequency's cron produces
    // and when the first one lands. The fire arithmetic is the same
    // floor alignment FrequencyScheduler.start uses for its initial
    // delay (period - floorMod(now, period)), and the cron strings /
    // trigger intervals are pinned against MetricsMain.cronFor /
    // triggerFor (Firehose 60 s floor), so the executable scheduler
    // and this declared form can't drift apart silently.
    "q_schedule_fires" -> { (s, dir) =>
      import s.implicits._
      // bounded scalar fetch (one aggregated row), like MetricsJob's
      // scalar extraction — not a driver-side loop over data
      val span = ev(s, dir).agg(
        min(unix_timestamp(col("ts"))).cast("long").as("t0"),
        max(unix_timestamp(col("ts"))).cast("long").as("t1")).first()
      val (t0, t1) = (span.getLong(0), span.getLong(1))
      Frequency.all
        .map(f => (f.name, f.periodSeconds.toLong,
          graft.metrics.MetricsMain.cronFor(f),
          math.max(f.periodSeconds.toLong, 60L)))
        .toDF("frequency", "period_sec", "cron", "trigger_sec")
        .select(col("frequency"), col("cron"), col("period_sec"),
          col("trigger_sec"),
          (floor(lit(t1) / col("period_sec")) -
            floor(lit(t0) / col("period_sec"))).cast("long").as("fires"),
          ((floor(lit(t0) / col("period_sec")) + 1) * col("period_sec"))
            .cast("long").as("first_fire_epoch"))
        .orderBy("period_sec")
    }
  )

  // ---------------------------------------------------------------- oracles

  /** Oracle for bm_published, generated from the registry so the SQL
    * and the engine share one definition source. */
  private def bmPublishedOracle: String = {
    val rows = reg.businessMetricSet.metrics.collect {
      case bm: BusinessMetric if bm.name != "NeverPublished" =>
        val dims = DefinitionExport.jsonObject(bm.dimensions.map(d => d.name -> d.value))
          .replace("'", "''")
        s"SELECT '${bm.namespace}' AS namespace, '${bm.name}' AS name, " +
          s"'$dims' AS dimensions, '1970-01-01T00:00:00Z' AS publishtime, " +
          s"CAST((${bm.query}) AS DOUBLE) AS metricvalue"
    }
    rows.mkString("", " UNION ALL ", " ORDER BY name")
  }

  /** O-18 oracle: the MODEL path (MetricStream.metricDataQueries per
    * frequency) rendered as literals — the Spark explode/filter/
    * projection must reproduce it row for row. */
  private def streamQueriesOracle: String = {
    val stream = MetricStream(reg.allAccounts.flatMap(_.metricSets))
    val rows = Frequency.all.flatMap { f =>
      stream.metricDataQueries(f).map { q =>
        val dims =
          if (q.dimensions.isEmpty) "CAST(NULL AS VARCHAR)"
          else s"'${sq(DefinitionExport.jsonObject(q.dimensions.map(x => x.name -> x.value)))}'"
        s"SELECT '${sq(q.id)}' AS id, '${sq(q.namespace)}' AS namespace, " +
          s"'${sq(q.name)}' AS name, '${f.name}' AS batch_frequency, " +
          s"CAST(${q.period} AS INTEGER) AS period, '${sq(q.stat)}' AS stat, " +
          s"$dims AS dims"
      }
    }
    rows.mkString("", " UNION ALL ", " ORDER BY batch_frequency, id")
  }

  /** O-37 oracle: same fire arithmetic in SQL over the same events
    * span; cron/trigger literals come from MetricsMain so the oracle
    * breaks if the executable scheduler's map drifts. */
  private def scheduleFiresOracle: String = {
    val rows = Frequency.all.map { f =>
      val trig = math.max(f.periodSeconds.toLong, 60L)
      s"SELECT '${f.name}' AS frequency, " +
        s"'${sq(graft.metrics.MetricsMain.cronFor(f))}' AS cron, " +
        s"CAST(${f.periodSeconds} AS BIGINT) AS period_sec, " +
        s"CAST($trig AS BIGINT) AS trigger_sec"
    }
    s"""WITH span AS (SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS t0,
       |CAST(floor(epoch(max(ts))) AS BIGINT) AS t1 FROM events),
       |f AS (${rows.mkString(" UNION ALL ")})
       |SELECT frequency, cron, period_sec, trigger_sec,
       |CAST(floor(t1 / period_sec) - floor(t0 / period_sec) AS BIGINT) AS fires,
       |CAST((floor(t0 / period_sec) + 1) * period_sec AS BIGINT) AS first_fire_epoch
       |FROM f, span ORDER BY period_sec""".stripMargin
  }

  private def uniqueIdsOracle: String = {
    val rows = reg.allAccounts.flatMap(_.metricSets).flatMap(_.metrics)
      .sortBy(_.uniqueId)
      .map { m =>
        s"SELECT '${sq(m.namespace)}' AS namespace, '${sq(m.name)}' AS name, " +
          s"'${m.frequency.name}' AS frequency, '${m.uniqueId}' AS unique_id, " +
          s"'${m.alarmUniqueId}' AS alarm_uid, '${m.widgetTitle}' AS widget_title"
      }
    rows.mkString("", " UNION ALL ", "")
  }

  private def statAggSql(statistic: String): String = statistic match {
    case "Sum" => "CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE)"
    case "Average" => "CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE)/COUNT(value)"
    case "Maximum" => "MAX(value)"
    case "Minimum" => "MIN(value)"
    case "SampleCount" => "CAST(COUNT(value) AS DOUBLE)"
  }

  /** Alarm-machine oracle: one CTE chain per SLA replicating densify →
    * vote → M-of-N window → state/lag, generated from the registry.
    * Returns (ctes, per-SLA union of dense evaluated slots with lag'd
    * prev_state + transitioned) — shared by both alarm oracles. */
  private def alarmOracleBoard: (String, String) = {
    val slas = reg.defaultDefinition.allSlas.zipWithIndex
    // Guard the oracle's modeling envelope: the CTE chain counts votes
    // over the last N SLOTS and never emits INSUFFICIENT_DATA, which
    // matches the machine only for BREACHING/NOT_BREACHING policies;
    // and the declared alarm queries aggregate the HOURLY board, so a
    // non-hour SLA would silently produce a guaranteed false red. Fail
    // at oracle build with a message instead.
    slas.foreach { case (sla, _) =>
      require(Set[TreatMissingData](TreatMissingData.Breaching,
          TreatMissingData.NotBreaching).contains(sla.treatMissingData),
        s"alarm oracle models BREACHING/NOT_BREACHING only; SLA for " +
          s"${sla.metric.name} uses ${sla.treatMissingData.name} — extend " +
          "the oracle's vote window to vote-indexed lookback first")
      require(sla.metric.frequency == Frequency.Hour,
        s"q_alarm_batch aggregates hourly series; SLA for " +
          s"${sla.metric.name} is ${sla.metric.frequency.name} — widen the " +
          "Spark side's frequency filter together with this oracle")
    }
    val ctes = slas.flatMap { case (sla, i) =>
      val m = sla.metric
      val et = m.dimensions.find(_.name == "EventType").get.value
      val p = m.period
      val op = sla.comparisonOperator match {
        case ComparisonOperator.GreaterThanThreshold => ">"
        case ComparisonOperator.GreaterThanOrEqualToThreshold => ">="
        case ComparisonOperator.LessThanThreshold => "<"
        case ComparisonOperator.LessThanOrEqualToThreshold => "<="
      }
      val missingVote = sla.treatMissingData match {
        case TreatMissingData.NotBreaching => "FALSE"
        case TreatMissingData.Breaching => "TRUE"
        case _ => "CAST(NULL AS BOOLEAN)"
      }
      val n = sla.evaluationPeriods
      val mm = sla.datapointsToAlarm
      Seq(
        s"dp_$i AS (SELECT CAST(floor(epoch(ts)/$p)*$p AS BIGINT) AS ws, ${statAggSql(m.statistic)} AS v FROM events WHERE event_type = '$et' GROUP BY 1)",
        s"b_$i AS (SELECT min(ws) AS lo, max(ws) AS hi FROM dp_$i)",
        s"slots_$i AS (SELECT unnest(generate_series(lo, hi, $p)) AS ws FROM b_$i)",
        s"dense_$i AS (SELECT s.ws, d.v FROM slots_$i s LEFT JOIN dp_$i d USING (ws))",
        s"eval_$i AS (SELECT ws, v, CASE WHEN v IS NOT NULL THEN v $op ${sla.threshold} ELSE $missingVote END AS vote FROM dense_$i)",
        s"win_$i AS (SELECT ws, v, vote, SUM(CASE WHEN vote THEN 1 ELSE 0 END) OVER (ORDER BY ws ROWS BETWEEN ${n - 1} PRECEDING AND CURRENT ROW) AS bc FROM eval_$i)",
        s"st_$i AS (SELECT ws, v, vote, CASE WHEN bc >= $mm THEN 'ALARM' ELSE 'OK' END AS state FROM win_$i)",
        s"fin_$i AS (SELECT '${m.uniqueId}' AS series_id, ws AS window_start, v AS metricvalue, coalesce(vote, FALSE) AS breaching, state AS statevalue, lag(state) OVER (ORDER BY ws) AS prev_state FROM st_$i)")
    }
    val union = slas.map { case (_, i) =>
      s"SELECT series_id, window_start, metricvalue, breaching, statevalue, prev_state, (prev_state IS NOT NULL AND prev_state <> statevalue) AS transitioned FROM fin_$i"
    }.mkString(" UNION ALL ")
    (ctes.mkString(", "), union)
  }

  private def alarmBatchOracle: String = {
    val (ctes, union) = alarmOracleBoard
    s"WITH $ctes $union ORDER BY series_id, window_start"
  }

  /** Every batch transition must have been emitted by the streaming
    * replay with the same prev/new state — the pinned columns. */
  private def alarmStreamParityOracle: String = {
    val (ctes, union) = alarmOracleBoard
    s"WITH $ctes, all_t AS ($union) " +
      "SELECT series_id, window_start, metricvalue, prev_state, statevalue, " +
      "TRUE AS in_stream, TRUE AS prev_match, TRUE AS state_match " +
      "FROM all_t WHERE transitioned ORDER BY series_id, window_start"
  }

  private def metadataJsonLit(m: MetricLike): String = {
    if (m.metadata.isEmpty) "CAST(NULL AS VARCHAR)"
    else s"'${sq(DefinitionExport.jsonObject(m.metadata.map(x => x.name -> x.value)))}'"
  }
  private def dimensionsJsonLit(m: MetricLike): String = {
    if (m.dimensions.isEmpty) "CAST(NULL AS VARCHAR)"
    else s"'${sq(DefinitionExport.jsonObject(m.dimensions.map(x => x.name -> x.value)))}'"
  }

  private def slaSnapshotOracle: String = {
    val rows = reg.defaultDefinition.allSlas.sortBy(_.metric.alarmName(reg.DefaultRegion))
      .map { sla =>
        val m = sla.metric
        s"SELECT '1970-01-01T00:00:00' AS collectiontime, " +
          s"'arn:local:alarm/${m.alarmUniqueId}' AS alarmarn, " +
          s"'${sq(m.alarmName(reg.DefaultRegion))}' AS alarmname, " +
          s"'${sq(m.namespace)}' AS metricnamespace, '${sq(m.name)}' AS metricname, " +
          s"CAST(${m.period} AS INTEGER) AS metricperiod, " +
          s"'${m.frequency.name}' AS metricfrequency, '${m.statistic}' AS metricstatistic, " +
          s"CAST(${sla.threshold} AS REAL) AS threshold, " +
          s"'${sla.comparisonOperator.name}' AS comparisonoperator, " +
          s"'${sla.treatMissingData.name}' AS treatmissingdata, " +
          s"'OK' AS statevalue, 'Threshold not crossed' AS statereason, " +
          s"'${reg.DefaultAccount}' AS accountid, ${metadataJsonLit(m)} AS metadata"
      }
    rows.mkString("", " UNION ALL ", " ORDER BY alarmname")
  }

  /** Incidents oracle: model-side replication of sla_parse.py:26-78. */
  private def incidentsOracle: String = {
    val rows = reg.defaultDefinition.allSlas.flatMap { sla =>
      val m = sla.metric
      val alarmName = m.alarmName(reg.DefaultRegion)
      // mirror KeyFns.alarmDerivedTokens' lenient handling: a name
      // without "-SLA" or with a short token list must not crash the
      // ORACLE GENERATOR (a throw here zeroes the whole round's
      // correctness artifact, not just q_incidents)
      val prefix = alarmName.indexOf("-SLA") match {
        case -1 => alarmName
        case i => alarmName.substring(0, i)
      }
      val toks = prefix.split("-")
      val derived = Seq(toks.lift(3).orNull, toks.lift(4).orNull,
        toks.drop(6).mkString("-"))
      val dimValue = lastDimValue(m)
      val matches = Seq(m.name.toLowerCase, m.frequency.name, dimValue.toLowerCase)
        .forall(derived.contains)
      if (!matches || !sla.snsEnabled) None
      else {
        val refId = m.metadata
          .filter(md => Set("function", "dataset")(md.name.toLowerCase))
          .lastOption.map(_.value).getOrElse("Unknown")
        Some(s"SELECT '${sq(sla.details)}' AS details, " +
          s"'${sq(sla.shortDescription)} caused by CloudWatch Alarm in ALARM state' AS short_description, " +
          s"'${sq(sla.severity)}' AS impact, " +
          s"'${sq(dimValue)}-${sq(m.name)}-${m.frequency.name}' AS unique_id, " +
          s"'Data Governance' AS alarm_origin, '$refId' AS reference_id")
      }
    }
    rows.mkString("", " UNION ALL ", " ORDER BY unique_id")
  }

  /** Extended series-map VALUES incl. namespace/name/metadata/dims. */
  private def seriesMapValuesFull: String =
    opsSeries.map { case (et, m) =>
      s"('$et', '${m.uniqueId}', '${m.statistic}', ${m.period}, " +
        s"'${m.frequency.name}', '${sq(m.namespace)}', '${sq(m.name)}', " +
        s"${metadataJsonLit(m)}, ${dimensionsJsonLit(m)})"
    }.mkString(", ")

  private def dashboardOracle: String = {
    val grouped = reg.allAccounts.flatMap(_.metricSets).flatMap(_.metrics)
      .groupBy(_.dashboard.dashboardName).toSeq.sortBy(_._1)
    grouped.map { case (dash, ms) =>
      val titles = ms.map(_.widgetTitle).distinct.sorted
      s"SELECT '$dash' AS dashboard, '${sq(titles.mkString("|"))}' AS widgets_str, " +
        s"CAST(${titles.size} AS BIGINT) AS n_widgets"
    }.mkString("", " UNION ALL ", " ORDER BY dashboard")
  }

  /** Model-side replication of the rendered widget table
    * (metrics_streamer.py:345-415). */
  private def dashboardWidgetsOracle: String = {
    val region = reg.DefaultRegion
    val account = reg.DefaultAccount
    val metrics = reg.allAccounts.flatMap(_.metricSets).flatMap(_.metrics)
    val graph = metrics
      .map(m => (s"${m.dashboard.dashboardName}-$region", "graph",
        m.widgetTitle, 10, 6)).distinct
    def md(dash: String): String = {
      val db = s"$dash-$region"
      s"## Navigate to **$db** dashboard:\n\n*Click here for " +
        s"[button:primary:$db](https://$region.console.aws.amazon.com/" +
        s"cloudwatch/home?region=$region#dashboards:name=$db;" +
        s"accountId=$account) dashboard*"
    }
    val text = metrics
      .flatMap(m => m.dashboard.dashboardCategory.map(cat =>
        (s"$cat-$region", "text", md(m.dashboard.dashboardName), 12, 3)))
      .distinct
    (graph ++ text).sorted.map { case (db, tpe, content, w, h) =>
      s"SELECT '${sq(db)}' AS dashboard_name, '$tpe' AS widget_type, " +
        s"'${sq(content)}' AS content, CAST($w AS INTEGER) AS width, " +
        s"CAST($h AS INTEGER) AS height"
    }.mkString("", " UNION ALL ",
      " ORDER BY dashboard_name, widget_type, content")
  }

  private def defsMetricsOracle: String = {
    val rows = for {
      d <- reg.allAccounts
      set <- d.metricSets
      m <- set.metrics
    } yield {
      val (dataset, refs, query) = m match {
        case bm: BusinessMetric =>
          (s"'${sq(DefinitionExport.jsonObject(Seq("database" -> bm.dataset.database,
            "table" -> bm.dataset.table, "catalog" -> bm.dataset.catalog,
            "alias" -> bm.dataset.alias)))}'",
            s"'${sq("[" + bm.referenceDatasets.map(t => DefinitionExport.jsonObject(
              Seq("database" -> t.database, "table" -> t.table,
                "catalog" -> t.catalog, "alias" -> t.alias))).mkString(", ") + "]")}'",
            s"'${sq(bm.query)}'")
        case dm: DataSetMetric =>
          (s"'${sq(DefinitionExport.jsonObject(Seq("database" -> dm.dataset.database,
            "table" -> dm.dataset.table, "catalog" -> dm.dataset.catalog,
            "alias" -> dm.dataset.alias)))}'",
            "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
        case _ => ("CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)")
      }
      s"SELECT '${sq(m.namespace)}' AS namespace, '${sq(m.name)}' AS name, " +
        s"'${m.frequency.name}' AS frequency, CAST(${m.period} AS INTEGER) AS period, " +
        s"'${m.statistic}' AS statistic, ${metadataJsonLit(m)} AS metadata, " +
        s"${dimensionsJsonLit(m)} AS dimensions, '${set.name}' AS metric_set, " +
        s"CAST(NULL AS VARCHAR) AS sla_set, '${m.dashboard.dashboardName}' AS dashboard, " +
        s"'${d.account}' AS account, $dataset AS dataset, " +
        s"$refs AS reference_datasets, $query AS query"
    }
    rows.mkString("", " UNION ALL ", " ORDER BY namespace, name, frequency")
  }

  private def defsSlasOracle: String = {
    val rows = for {
      d <- reg.allAccounts
      set <- d.slaSets
      sla <- set.slas
    } yield {
      val m = sla.metric
      s"SELECT CAST(NULL AS VARCHAR) AS ticket, " +
        s"CAST(${sla.threshold.toInt} AS INTEGER) AS threshold, " +
        s"'${sla.comparisonOperator.name}' AS comparison_operator, " +
        s"CAST(${sla.datapointsToAlarm} AS INTEGER) AS datapoints_to_alarm, " +
        s"CAST(${sla.evaluationPeriods} AS INTEGER) AS evaluation_periods, " +
        s"'${sla.treatMissingData.name}' AS treat_missing_data, " +
        s"'${sq(sla.severity)}' AS severity, '${sq(sla.shortDescription)}' AS short_description, " +
        s"'${sq(sla.details)}' AS details, '${sq(m.namespace)}' AS metric_namespace, " +
        s"'${sq(m.name)}' AS metric_name, '${sq(set.name)}' AS metric_set, " +
        s"${metadataJsonLit(m)} AS metric_metadata, " +
        s"${dimensionsJsonLit(m)} AS metric_dimensions, '${d.account}' AS account"
    }
    rows.mkString("", " UNION ALL ", " ORDER BY metric_namespace, metric_name")
  }

  private def alarmScanOracle: String = {
    val rows = reg.defaultDefinition.allSlas
      .map(sla => sla.metric.alarmName(reg.DefaultRegion)).sorted
      .map(n => s"SELECT '${sq(n)}' AS alarmname")
    rows.mkString("", " UNION ALL ", " ORDER BY alarmname")
  }

  def oracles: Map[String, String] = Map(
    "bm_published" -> bmPublishedOracle,

    "q_stat_windows" ->
      s"""WITH sm(event_type, series_id, statistic, period, frequency) AS
         |(VALUES $seriesMapValues),
         |dp AS (SELECT sm.series_id, sm.statistic, sm.period, sm.frequency,
         |CAST(floor(epoch(e.ts)/sm.period)*sm.period AS BIGINT) AS window_start, e.value
         |FROM events e JOIN sm USING(event_type) WHERE sm.frequency = 'hour')
         |SELECT series_id, statistic, period, frequency, window_start,
         |CASE statistic
         |WHEN 'Sum' THEN CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE)
         |WHEN 'Average' THEN CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE)/COUNT(value)
         |WHEN 'Maximum' THEN MAX(value)
         |WHEN 'Minimum' THEN MIN(value)
         |WHEN 'SampleCount' THEN CAST(COUNT(value) AS DOUBLE) END AS metricvalue
         |FROM dp GROUP BY series_id, statistic, period, frequency, window_start
         |ORDER BY series_id, window_start""".stripMargin,

    "q_align10" ->
      """SELECT DISTINCT CAST(floor(epoch(ts)/600)*600 AS BIGINT) AS aligned
        |FROM events ORDER BY aligned""".stripMargin,

    "q_unique_ids" -> uniqueIdsOracle,

    "q_alarm_batch" -> alarmBatchOracle,
    "q_alarm_stream_parity" -> alarmStreamParityOracle,
    "q_sla_snapshot" -> slaSnapshotOracle,
    "q_incidents" -> incidentsOracle,
    "q_dashboard" -> dashboardOracle,
    "q_dashboard_widgets" -> dashboardWidgetsOracle,
    "q_defs_metrics" -> defsMetricsOracle,
    "q_defs_slas" -> defsSlasOracle,
    "q_alarm_scan" -> alarmScanOracle,

    "q_metrics_records" ->
      s"""WITH sm(event_type, series_id, statistic, period, frequency, namespace, name, metadata, dimensions) AS
         |(VALUES $seriesMapValuesFull),
         |dp AS (SELECT sm.*, CAST(floor(epoch(e.ts)/sm.period)*sm.period AS BIGINT) AS window_start, e.value
         |FROM events e JOIN sm USING(event_type)),
         |agg AS (SELECT series_id, statistic, period, frequency, namespace, name, metadata, dimensions, window_start,
         |CASE statistic
         |WHEN 'Sum' THEN CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE)
         |WHEN 'Average' THEN CAST(SUM(CAST(value AS DECIMAL(28,8))) AS DOUBLE)/COUNT(value)
         |WHEN 'Maximum' THEN MAX(value)
         |WHEN 'Minimum' THEN MIN(value)
         |WHEN 'SampleCount' THEN CAST(COUNT(value) AS DOUBLE) END AS metricvalue
         |FROM dp GROUP BY series_id, statistic, period, frequency, namespace, name, metadata, dimensions, window_start)
         |SELECT '1970-01-01T00:00:00' AS collectiontime, namespace, name,
         |CAST(period AS INTEGER) AS period, frequency, statistic, metadata, dimensions,
         |'${reg.DefaultAccount}' AS accountid,
         |strftime(make_timestamp(window_start*1000000), '%Y-%m-%dT%H:%M:%S') AS metrictimestamp,
         |CAST(metricvalue AS REAL) AS metricvalue, series_id AS id, name AS label,
         |'${reg.DefaultRegion}' AS region,
         |CAST(year(make_timestamp(window_start*1000000)) AS SMALLINT) AS year,
         |CAST(month(make_timestamp(window_start*1000000)) AS SMALLINT) AS month,
         |CAST(day(make_timestamp(window_start*1000000)) AS SMALLINT) AS day,
         |CAST(hour(make_timestamp(window_start*1000000)) AS SMALLINT) AS hour
         |FROM agg ORDER BY id, window_start""".stripMargin,

    "q_stat_p50" ->
      """SELECT event_type AS series_id,
        CAST(floor(epoch(ts)/3600)*3600 AS BIGINT) AS window_start,
        quantile_cont(value, 0.5) AS p50
        FROM events GROUP BY 1, 2 ORDER BY series_id, window_start""",

    "q_props_parse" ->
      """SELECT event_type,
        |CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
        |COUNT(json_extract_string(props, '$.k')) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_record_json" ->
      """SELECT to_json(struct_pack(event_id := event_id, event_type := event_type)) AS payload
        |FROM events WHERE event_id < 100 ORDER BY payload""".stripMargin,

    "q_stream_queries" -> streamQueriesOracle,

    "q_array_head" ->
      """SELECT event_type,
        |(list(value ORDER BY ts DESC, event_id DESC))[1] AS newest_value,
        |(list(value ORDER BY ts DESC, event_id DESC)
        |  FILTER (WHERE value > 1000000))[1] AS newest_high
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_schedule_fires" -> scheduleFiresOracle
  )
}
