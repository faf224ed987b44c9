package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning,
  RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{CollapseCodegenStages, RDDScanExec, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
  BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Counts of the physical operators that decide a plan's cost at scale:
  * shuffles by partitioning, broadcasts, joins by strategy, unpartitioned
  * windows, codegen stages, `localCheckpoint` barriers (existing-RDD
  * scans), Scala UDFs and graft's own expressions.
  */
object PlanCensus {
  val columns: Seq[String] = Seq(
    "hash_shuffle", "range_shuffle", "single_shuffle", "round_robin_shuffle",
    "broadcast", "reused_exchange",
    "sort_merge_join", "broadcast_hash_join", "shuffled_hash_join",
    "broadcast_nl_join", "cartesian",
    "unpartitioned_window", "codegen_stage", "rdd_scan", "scala_udf", "graft_expr")

  /** Nonzero counts only; an absent column is 0. */
  type Census = Map[String, Int]

  /** The census of `df`'s executed plan, without running it. The walk
    * reads an adaptive plan's initial plan, with the codegen stages AQE
    * inserts per stage (exchanges end a stage either way). It descends
    * into subqueries, and into the plan behind a cached relation without
    * counting the scan, so a query counts the same whether or not another
    * query cached part of it.
    */
  def of(df: DataFrame): Census = {
    val counts = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def add(c: String): Unit = counts(c) += 1
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(CollapseCodegenStages()(a.initialPlan))
      case s: InMemoryTableScanExec => walk(s.relation.cachedPlan)
      case n =>
        n match {
          case e: ShuffleExchangeExec => add(e.outputPartitioning match {
            case _: HashPartitioning => "hash_shuffle"
            case _: RangePartitioning => "range_shuffle"
            case SinglePartition => "single_shuffle"
            case _: RoundRobinPartitioning => "round_robin_shuffle"
            case other => sys.error(s"no census column for shuffle partitioning $other")
          })
          case _: BroadcastExchangeExec => add("broadcast")
          case _: ReusedExchangeExec => add("reused_exchange")
          case _: SortMergeJoinExec => add("sort_merge_join")
          case _: BroadcastHashJoinExec => add("broadcast_hash_join")
          case _: ShuffledHashJoinExec => add("shuffled_hash_join")
          case _: BroadcastNestedLoopJoinExec => add("broadcast_nl_join")
          case _: CartesianProductExec => add("cartesian")
          case w: WindowExec if w.partitionSpec.isEmpty => add("unpartitioned_window")
          case _: WholeStageCodegenExec => add("codegen_stage")
          case _: RDDScanExec => add("rdd_scan")
          case _ =>
        }
        n.expressions.foreach(_.foreach {
          case _: ScalaUDF => add("scala_udf")
          case e if e.getClass.getName.startsWith("graft.") => add("graft_expr")
          case _ =>
        })
        n.subqueries.foreach(walk)
        n.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    counts.toMap
  }

  /** One line per query, sorted by name, nonzero columns in column order:
    * a plan change reviews as a one-line diff.
    */
  def render(census: Map[String, Census]): String =
    census.toSeq.sortBy(_._1).map { case (q, c) =>
      val cols = columns.filter(c.contains).map(k => s"${Json.str(k)}: ${c(k)}")
      s"  ${Json.str(q)}: {${cols.mkString(", ")}}"
    }.mkString("{\n", ",\n", "\n}\n")

  def parse(text: String): Map[String, Census] =
    new ObjectMapper().readTree(text).properties().asScala.map { q =>
      q.getKey -> q.getValue.properties().asScala.map(c => c.getKey -> c.getValue.asInt).toMap
    }.toMap

  /** `query: column: before -> after` for every column that moved, plus a
    * line for each query only one side has. (ASCII arrow: a test JVM in a
    * POSIX locale prints a non-ASCII one as `?`.)
    */
  def diff(before: Map[String, Census], after: Map[String, Census]): Seq[String] =
    (before.keySet ++ after.keySet).toSeq.sorted.flatMap { q =>
      (before.get(q), after.get(q)) match {
        case (None, _) => Seq(s"$q: not in the committed census")
        case (_, None) => Seq(s"$q: in the committed census but not in the registry")
        case (Some(b), Some(a)) => columns.flatMap { c =>
          val (x, y) = (b.getOrElse(c, 0), a.getOrElse(c, 0))
          if (x == y) None else Some(s"$q: $c: $x -> $y")
        }
      }
    }

  val committedPath = "src/test/resources/plan_census.json"
  val recomputedPath = "target/plan_census.json"

  /** The failure message: each change, then the command that accepts them. */
  def failure(changes: Seq[String]): String =
    s"plan census differs from $committedPath:\n  ${changes.mkString("\n  ")}\n" +
      s"if the change is intended, accept it with:\n  cp $recomputedPath $committedPath"

  def mismatch(committed: Map[String, Census], recomputed: Map[String, Census]): Option[String] =
    Some(diff(committed, recomputed)).filter(_.nonEmpty).map(failure)
}

/** Pins the physical plan of every registry query at sf0.001 by its
  * operator census against `src/test/resources/plan_census.json`, with
  * the build-once artifacts materialized as in a Bench sweep. Each run
  * writes the recomputed census to `target/plan_census.json`; when a plan
  * change is intended, copying that file over the committed one accepts it.
  */
class PlanCensusSpec extends AnyFunSuite {
  import TestSpark.{spark, sf0001}
  import PlanCensus.{committedPath, recomputedPath}

  private def censusOf(build: => DataFrame): PlanCensus.Census =
    try PlanCensus.of(build) finally Cleanup.drain()

  test("every registry query's plan census matches the committed census") {
    // the plans a Bench sweep times: its build-once artifacts are trained
    // and materialized first. A cached relation's size estimate, and with
    // it a broadcast decision, changes once the cache is materialized, so
    // without this the census would depend on what ran before it.
    SparkEntry.trainerWarmers.toSeq.sortBy(_._1).foreach { case (_, warm) =>
      try warm(spark, sf0001) finally Cleanup.drain() }
    val recomputed = SparkEntry.registry.map(q => q.name -> censusOf(q.build(spark, sf0001))).toMap
    Files.createDirectories(Paths.get(recomputedPath).getParent)
    Files.write(Paths.get(recomputedPath), PlanCensus.render(recomputed).getBytes(UTF_8))
    val committedFile = Paths.get(committedPath)
    val committed =
      if (Files.exists(committedFile)) PlanCensus.parse(new String(Files.readAllBytes(committedFile), UTF_8))
      else Map.empty[String, PlanCensus.Census]
    PlanCensus.mismatch(committed, recomputed).foreach(fail(_))
  }

  test("a planted repartition or broadcast fails the census, naming the query and the column") {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    def planted(q: String)(plant: DataFrame => DataFrame): Option[String] = {
      def build = SparkEntry.queries(q)(spark, sf0001)
      PlanCensus.mismatch(Map(q -> censusOf(build)), Map(q -> censusOf(plant(build))))
    }
    assert(planted("q06_forecast_revenue")(_.repartition(7, col("revenue_cents"))) ==
      Some(PlanCensus.failure(Seq("q06_forecast_revenue: hash_shuffle: 0 -> 1"))))
    // a broadcast exchange always comes with the join that reads it
    val flags = Seq("A", "N", "R").toDF("l_returnflag")
    assert(planted("q01_pricing_summary")(_.join(broadcast(flags), Seq("l_returnflag"), "left_semi")) ==
      Some(PlanCensus.failure(Seq("q01_pricing_summary: broadcast: 0 -> 1",
        "q01_pricing_summary: broadcast_hash_join: 0 -> 1"))))
  }
}
