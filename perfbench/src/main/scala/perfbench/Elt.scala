package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.LoadResult
import graft.operators.{Merge, Models}
import graft.pipeline.{PipelineRunner, PipelineSpec, TaskResult, TaskStatus}
import graft.sources.SourceFactory
import graft.streaming.Streams
import graft.validation.Rules

/** `elt_incremental`: a closed loop of pipeline increments. Before each
  * increment its seeded deltas land as files; the operation is one
  * `PipelineRunner.run(spec, parallelism = 2)`: quality-gated ingest,
  * staging, `dim_customers` through `Models.scd2`, `fact_orders`
  * through `Merge.mergeIntoPartitioned`, target checks, and two
  * streaming models run to the end of what has landed
  * (`Trigger.AvailableNow`): the event stream through
  * `Streams.dedupExactRedeliveries` into `Streams.validatedSink`, and
  * the document corpus through `Streams.pretrainPipelineSink`. After
  * each increment the targets are fingerprinted for `verify.py`; after
  * the last, the streamed corpus is compared with a single-trigger run
  * of the same sink over the same documents. */
final class Elt(o: Opts) extends Workload {
  private val yaml = new String(Files.readAllBytes(Paths.get(o.bench, "pipeline.yaml")), "UTF-8")
  private val asOf = java.sql.Timestamp.valueOf("2001-08-01 12:00:00")
  private val eventRules = Seq(
    Rules.Rule("not_null", "user_id", "error", Rules.notNull(col("user_id"))),
    Rules.Rule("range", "value", "error", Rules.range(col("value"), Some(0.0), None)))
  private val eventSchema = StructType(Seq(StructField("event_id", LongType),
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("value", DoubleType)))
  private val docSchema = StructType(Seq(StructField("doc_id", LongType),
    StructField("source", StringType), StructField("text", StringType)))
  private val blocklist = Seq("slow", "Lorem", "ipsum")

  SourceFactory.register("events_watermark", (spark, p) =>
    graft.queries.eventsAfter(spark, p("dir"), p("since")))

  private def increments: Seq[String] =
    Option(new java.io.File(s"${o.inputs}/deltas").list()).toSeq.flatten.sorted

  /** Fresh target tables of the base snapshot: files `gen.py` wrote in
    * the engine's layout, copied in place. */
  private def bootstrap(live: String): Unit = {
    Main.deleteTree(live)
    Seq("fact_orders", "customer_history").foreach(t =>
      copyTree(Paths.get(o.inputs, "targets", t), Paths.get(live, t)))
    Seq("events.parquet", "stream", "docs").foreach(d => Files.createDirectories(Paths.get(live, d)))
    Files.copy(Paths.get(s"${o.inputs}/base/events.parquet"),
      Paths.get(s"$live/events.parquet/part-000.parquet"))
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit =
    Files.walk(from).forEach { p =>
      val t = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  /** Copies every file of `from` into `to`, in name order. */
  private def land(from: String, to: String): Unit =
    Option(new java.io.File(from).listFiles()).toSeq.flatten.sortBy(_.getName).foreach { f =>
      Files.copy(f.toPath, Paths.get(to, f.getName), StandardCopyOption.REPLACE_EXISTING)
    }

  private def stageCustomers(delta: DataFrame): DataFrame =
    Models.stagingCustomers(delta).join(
      broadcast(delta.select(col("c_custkey").as("customer_id"), col("changed_at"),
        col("change_seq"))), "customer_id")

  private def writeDim(spark: SparkSession, live: String): Unit =
    Models.scd2(spark.read.parquet(s"$live/customer_history"), Seq("customer_id"),
        "changed_at", "change_seq")
      .write.mode("overwrite").parquet(s"$live/dim_customers")

  private def corpusSink(spark: SparkSession, docs: DataFrame, state: String,
      checkpoint: String) =
    Streams.pretrainPipelineSink(docs, state, checkpoint, "doc_id", "source", "text",
      evalDocs = spark.read.parquet(s"${o.inputs}/base/eval_docs.parquet"),
      evalTextCol = "text", blocklistTerms = blocklist)

  /** Lands increment `k`'s files under `live`, then runs the pipeline
    * once as op `k`. The corpus stream reads one landed file per trigger
    * unless `oneTrigger`. */
  private def increment(spark: SparkSession, live: String, inc: String, k: Int,
      tracer: Tracer, counters: Option[SparkCounters],
      oneTrigger: Boolean = false): (Op, Map[String, Double]) = {
    val in = s"${o.inputs}/deltas/$inc"
    val landing = s"$live/landing/$inc"
    Seq("orders", "customers").foreach { t =>
      Files.createDirectories(Paths.get(s"$landing/$t"))
      land(s"$in/$t", s"$landing/$t")
    }
    land(s"$in/events", s"$live/events.parquet")
    land(s"$in/stream", s"$live/stream")
    land(s"$in/docs", s"$live/docs")
    counters.foreach(_.landed(System.currentTimeMillis()))
    val watermark = java.time.LocalDateTime.of(2024, 1, 31, 0, 0).plusHours(k - 1)
      .toString.replace('T', ' ') + ":00"
    val spec = PipelineSpec.fromYaml(yaml, Map(
      "ORDERS_PATH" -> s"$landing/orders", "CUSTOMERS_PATH" -> s"$landing/customers",
      "EVENTS_DIR" -> live, "WATERMARK" -> watermark))
    val stats = scala.collection.concurrent.TrieMap.empty[String, Double]
    def add(k: String, v: Double): Unit = stats.synchronized {
      stats(k) = stats.getOrElse(k, 0.0) + v
    }
    val sc = spark.sparkContext
    def tagged[T](tag: String)(f: => T): T = {
      val before = sc.getLocalProperty(SparkCounters.Tag)
      sc.setLocalProperty(SparkCounters.Tag, tag)
      try f finally sc.setLocalProperty(SparkCounters.Tag, before)
    }
    // a source's rows are read by its ingest task's quality gate, after
    // the source call returns: the tag stays on the task's thread
    val sourceSeconds = scala.collection.concurrent.TrieMap.empty[String, Double]
    val sources = spec.sources.map(s => s.sourceId -> ((sp: SparkSession) => {
      sc.setLocalProperty(SparkCounters.Tag, SparkCounters.SourceTag)
      val t0 = System.nanoTime()
      try tracer.span("sources", s.sourceId)(
        SourceFactory.create(s.sourceType, sp, s.connectionParams))
      finally sourceSeconds(s.sourceId) = (System.nanoTime() - t0) / 1e9
    })).toMap
    def model(name: String)(f: Map[String, DataFrame] => DataFrame) =
      name -> ((deps: Map[String, DataFrame]) => {
        sc.setLocalProperty(SparkCounters.Tag, null)
        tracer.span("pipeline.model", name)(f(deps))
      })
    def streamed(layer: String, name: String)(writer: => org.apache.spark.sql.streaming.DataStreamWriter[_]): Unit =
      tracer.span(layer, name)(writer.queryName(name).start().awaitTermination())
    val models = Map(
      model("staging_orders")(d => Models.stagingOrders(d("orders_delta"))),
      model("staging_customers")(d => stageCustomers(d("customers_delta"))),
      model("dim_customers") { d =>
        tracer.span("operators.scd2", "dim_customers")(tagged(SparkCounters.WriteTag) {
          d("staging_customers").write.mode("append").parquet(s"$live/customer_history")
          writeDim(spark, live)
        })
        spark.read.parquet(s"$live/dim_customers")
      },
      model("fact_orders") { d =>
        tracer.span("operators.merge", "fact_orders")(tagged(SparkCounters.WriteTag) {
          Merge.mergeIntoPartitioned(spark, s"$live/fact_orders",
            d("staging_orders").withColumn("version", lit(k))
              .withColumn("order_year", year(col("order_date"))),
            Seq("order_id"), col("version"), "order_year")
        })
        spark.read.parquet(s"$live/fact_orders")
      },
      model("events_by_type")(d => d("events_new").groupBy(col("event_type")).count()),
      model("events_clean") { _ =>
        streamed("streaming", "events_clean") {
          Streams.validatedSink(
            Streams.dedupExactRedeliveries(spark.readStream.schema(eventSchema)
              .option("maxFilesPerTrigger", 1).parquet(s"$live/stream"), "ts", Seq("event_id")),
            s"$live/events_clean", s"$live/events_quarantine", s"$live/checkpoint/events",
            eventRules, onLoad = (r: LoadResult) => {
              val rejected = r.errorMessage.map(_.stripPrefix("quarantined: ").toDouble)
                .getOrElse(0.0)
              add("validation.rows_checked", r.rowsLoaded + rejected)
              add("validation.rows_rejected", rejected)
            })
        }
        spark.read.parquet(s"$live/events_clean")
      },
      model("reviews_corpus") { _ =>
        val docs = spark.readStream.schema(docSchema)
        streamed("corpus", "reviews_corpus")(corpusSink(spark,
          (if (oneTrigger) docs else docs.option("maxFilesPerTrigger", 1))
            .parquet(s"$live/docs"), s"$live/corpus", s"$live/checkpoint/corpus"))
        spark.read.parquet(s"$live/corpus/corpus")
      })
    val runner = new PipelineRunner(spark, sources, models, asOf)
    var results = Map.empty[String, TaskResult]
    val op = tracer.op(k, inc) {
      Main.timed(inc, inc) {
        try results = tracer.span("pipeline", "run")(runner.run(spec, parallelism = 2))
        finally sc.setLocalProperty(SparkCounters.Tag, null)
        val failed = results.values.filter(_.status == TaskStatus.Failed)
        if (failed.nonEmpty)
          throw new IllegalStateException(failed.map(r => s"${r.taskId}: ${r.error.getOrElse("")}")
            .mkString("; "))
        ""
      }
    }
    // the engine's own validation: target checks, and each gated
    // ingest's time beyond its source call (the quality gate)
    val gated = spec.sources.filter(_.qualityThresholds.nonEmpty).map(_.sourceId).toSet
    results.values.foreach { r =>
      r.taskId.split("_", 2) match {
        case Array("validate", _) =>
          add("validation.calls", 1); add("validation.busy_s", r.durationSeconds)
        case Array("ingest", sid) if gated(sid) =>
          add("validation.calls", 1)
          add("validation.busy_s", math.max(0.0, r.durationSeconds - sourceSeconds.getOrElse(sid, 0.0)))
        case _ =>
      }
    }
    add("pipeline.tasks", results.size)
    add("pipeline.tasks_failed", results.values.count(_.status == TaskStatus.Failed))
    // a source called more than once in a run was retried
    add("pipeline.tasks_retried", tracer.all.count(s => s.op == k && s.layer == "sources") -
      (if (tracer.enabled) spec.sources.size else 0))
    val v0 = Clock.now
    val digest = if (op.error.isEmpty) fingerprint(spark, live) else ""
    add("bench.verify_s", Clock.now - v0)
    (op.copy(digest = digest), stats.toMap)
  }

  /** Exact integer aggregates of the batch targets and both stream
    * tables, recomputed by `verify.py` from base ∪ deltas with DuckDB. */
  private def fingerprint(spark: SparkSession, live: String): String = {
    val f = spark.read.parquet(s"$live/fact_orders").agg(count(lit(1)), sum("order_id"),
      sum("customer_id"), sum(round(col("total_amount") * 100).cast("long")),
      sum("version"), sum("order_year"), sum(ascii(col("order_status"))),
      sum(unix_seconds(col("order_date").cast("timestamp")))).head()
    val d = spark.read.parquet(s"$live/dim_customers").agg(count(lit(1)), sum("customer_id"),
      sum(col("is_current").cast("long")), sum(round(col("account_balance") * 100).cast("long")),
      sum(unix_seconds(col("valid_from").cast("timestamp"))),
      sum(coalesce(unix_seconds(col("valid_to").cast("timestamp")), lit(0L))),
      sum("nation_id"), sum(ascii(col("market_segment")))).head()
    def events(t: String) = spark.read.parquet(s"$live/$t").agg(count(lit(1)),
      sum("event_id"), sum(coalesce(col("user_id"), lit(0L))),
      sum(round(col("value") * 100).cast("long")), sum(unix_micros(col("ts")))).head()
    (f.toSeq ++ d.toSeq ++ events("events_clean").toSeq ++ events("events_quarantine").toSeq)
      .map(Digest.cell).mkString(",")
  }

  /** The streamed corpus against the warm-up's single trigger of the
    * same sink over every document: stage counts and packed output must
    * be equal. None when they are. */
  private def corpusMismatch(spark: SparkSession, live: String): Option[String] = {
    def digests(state: String) = {
      val stages = Streams.pretrainPipelineStages(spark, state)
      val packed = spark.read.parquet(s"$state/corpus").drop("batch")
      (Digest.of(stages.columns.toSeq, stages.collect()),
        Digest.of(packed.columns.toSeq, packed.collect()))
    }
    warmError.map(e => s"no single-trigger corpus to compare with: the warm-up failed: $e")
      .orElse {
        val (streamed, single) = (digests(s"$live/corpus"), digests(s"$warm/corpus"))
        if (streamed == single) None
        else Some(s"corpus streamed $streamed != single trigger $single")
      }
  }

  /** Per-stage document counts of the streamed corpus. */
  private def corpusStages(spark: SparkSession, live: String): Map[String, Double] = {
    val n = Streams.pretrainPipelineStages(spark, s"$live/corpus").collect()
      .map(r => r.getString(1) -> r.getLong(2).toDouble).toMap
    def at(s: String) = n.getOrElse(s, 0.0)
    n.map { case (s, v) => s"corpus.stage_docs.$s" -> v } ++ Map(
      "corpus.docs_in" -> at("total"),
      "dedup.exact_dropped" -> (at("model") - at("exact_dedup")),
      "dedup.near_dropped" -> (at("exact_dedup") - at("near_dedup")),
      "corpus.kept_ratio" -> (if (at("total") > 0) at("sampled") / at("total") else 0.0))
  }

  private val warm = s"${o.work}/elt/warm"
  private var warmError: Option[String] = None

  /** One untimed increment on a scratch copy of the targets, so the JIT
    * and Spark's code generator see every path of an increment before
    * the measured ones. Every increment's documents land before it and
    * its corpus stream reads them in one trigger: the reference the
    * streamed corpus is checked against. */
  override def warmup(spark: SparkSession): Unit = {
    bootstrap(warm)
    increments.foreach(inc => land(s"${o.inputs}/deltas/$inc/docs", s"$warm/docs"))
    warmError = increment(spark, warm, increments.head, 1, new Tracer(false), None,
      oneTrigger = true)._1.error
  }

  def run(spark: SparkSession, tracer: Tracer, counters: Option[SparkCounters]): Phase = {
    val live = s"${o.work}/elt/run"
    bootstrap(live)
    val done = increments.zipWithIndex.map { case (inc, i) =>
      increment(spark, live, inc, i + 1, tracer, counters)
    }
    val v0 = Clock.now
    val mismatch = corpusMismatch(spark, live)
    Main.deleteTree(warm)
    val ops = done.map(_._1)
    val checked = mismatch match {
      case Some(why) => ops.init :+ ops.last.copy(error = Some(why))
      case None => ops
    }
    val layers = done.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _) ++
      (if (tracer.enabled) corpusStages(spark, live) else Map.empty) +
      ("bench.verify_s" -> (done.map(_._2.getOrElse("bench.verify_s", 0.0)).sum + Clock.now - v0))
    Phase(checked, ops.map(o => o.end - o.start).sum, Map.empty, layers)
  }
}
