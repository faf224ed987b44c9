package graft
package queries

import org.apache.spark.sql.functions._
import graft.fixtures.DocRoutePlan
import graft.ops._
import graft.router.Router
import Shared._

/** Router core: the reference's routing plan as batch queries. */
object RouterQueries {
  private val routeCase = Router.routeSql("text", DocRoutePlan.resolved)

  val specs: Seq[QuerySpec] = Seq(
    // ---- router core (reference parity: F1 F2 R1 R2 R3 R4 R5 R6 P1) ----
    QuerySpec("route_first_match", (s, dir) => {
      val df = t(s, dir, "documents").withColumn("value", col("text"))
      Router.routeKeep(df, DocRoutePlan.resolved)
        .select(col("doc_id"), coalesce(col("topic"), lit("__dropped")).as("topic"))
        .orderBy(col("doc_id"))
    }, oracleSql =
        s"SELECT doc_id, coalesce($routeCase, '__dropped') AS topic FROM documents ORDER BY doc_id"),
    QuerySpec("route_topic_counts", (s, dir) => {
      val df = t(s, dir, "documents").withColumn("value", col("text"))
      Router.routeKeep(df, DocRoutePlan.resolved)
        .select(coalesce(col("topic"), lit("__dropped")).as("topic"))
        .groupBy(col("topic")).agg(count(lit(1)).as("n"))
        .orderBy(col("topic"))
    }, oracleSql =
        s"""SELECT topic, count(*) AS n FROM (SELECT coalesce($routeCase, '__dropped') AS topic FROM documents) GROUP BY topic ORDER BY topic"""),
    QuerySpec("route_projection", (s, dir) => {
      val df = t(s, dir, "documents")
        .select(col("doc_id").cast("string").as("key"), col("text").as("value"))
      Router.route(df, DocRoutePlan.resolved)
        .orderBy(col("topic"), col("key"))
    }, oracleSql =
        s"""SELECT "key", "value", topic FROM (SELECT CAST(doc_id AS VARCHAR) AS "key", text AS "value", $routeCase AS topic FROM documents) WHERE topic IS NOT NULL ORDER BY topic, "key""""),
  )
}
