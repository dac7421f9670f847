package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** `retail_batch`: one client, closed loop, a seeded-order mix of the
  * star-schema analytics queries, each collected in full and digested. */
final class Retail(o: Opts) extends Workload {
  import Retail._

  private def query(name: String): (SparkSession, String) => DataFrame =
    graft.SparkEntry.queries(name)

  /** Tables each query scans, read from its optimized plan; `run.py`
    * turns them into the op's input rows. */
  private val scans = scala.collection.mutable.Map.empty[String, Seq[String]]

  /** One untimed pass of the whole mix on the small schema: the JIT and
    * Spark's code generator see every query before the measured ones. */
  override def warmup(spark: SparkSession): Unit =
    mix.foreach(q => query(q)(spark, o.warm).collect())

  def run(spark: SparkSession, tracer: Tracer, counters: Option[SparkCounters]): Phase = {
    val rounds = math.max(1, math.round(o.seconds / 10.0).toInt)
    val order = (0 until rounds).flatMap(r =>
      new scala.util.Random(o.seed * 1000 + r).shuffle(mix))
    val calls: Seq[(String, String)] = order.map(q => (q, q)) ++
      (if (o.inject) Seq(("inject_throw", "inject_throw"),
        ("inject_wrong", "q1_pricing_summary")) else Nil)
    val plans = scala.collection.mutable.Map.empty[String, String]
    val t0 = Clock.now
    val ops = calls.zipWithIndex.map { case ((name, check), i) =>
      tracer.op(i, name) {
        Main.timed(name, check) {
          val df = tracer.span("queries.build", name) {
            name match {
              case "inject_throw" => throw new IllegalStateException("injected failure")
              case "inject_wrong" => query(check)(spark, o.inputs).limit(1)
              case q => query(q)(spark, o.inputs)
            }
          }
          val rows = tracer.span("queries.action", name)(df.collect())
          if (tracer.enabled) plans(name) = planDigest(df)
          scans(check) = df.queryExecution.optimizedPlan.collectWithSubqueries {
            case LogicalRelation(h: HadoopFsRelation, _, _, _, _) =>
              h.location.rootPaths.map(_.getName)
          }.flatten.flatMap(tableOf).distinct.sorted
          Digest.of(df.columns.toSeq, rows)
        }
      }
    }
    val wall = Clock.now - t0
    val oracles = graft.SparkEntry.oracleSql.filter { case (q, _) => mix.contains(q) }
    Phase(ops, wall, Map("scans" -> scans.toMap, "plans" -> plans.toMap,
      "oracles" -> oracles), Map.empty)
  }
}

object Retail {
  /** Pricing summary, top customers, region revenue and cube; basket
    * pairs, group quantiles and MAD outliers; running total and
    * sessions; as-of join and CDC latest state; lineitem profile and
    * order constraints. Rollup, winsorize, lag and the second as-of
    * join repeat machinery already in the mix and stay out to keep a
    * run inside the benchmark's time budget. */
  val mix: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_customers", "q5_region_revenue",
    "q21_cube_revenue", "q7_basket_pairs", "q9_group_quantiles", "q20_mad_outliers",
    "w_running_total", "w_session_user", "asof_last_order", "cdc_latest_state",
    "v_profile_lineitem", "v_constraints_orders")

  private val tablePath = "([a-z]+)\\.parquet".r

  def tableOf(relation: String): Option[String] =
    tablePath.findFirstMatchIn(relation).map(_.group(1))

  /** The executed plan with everything that names a run rather than a
    * plan (expression ids, file locations, plan ids) blanked out. */
  def planDigest(df: DataFrame): String = {
    val s = df.queryExecution.executedPlan.toString
      .replaceAll("#\\d+L?", "#")
      .replaceAll("file:[^,\\]\\s]*", "file:")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("id=#?\\d+", "id=")
      .replaceAll("\\(\\d+\\)", "()")
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }
}
