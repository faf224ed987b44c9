package graftbench

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.Row
import graft.{Cleanup, SparkEntry, Tables}

/** `query_mix`: a closed loop, one driver thread, over eight
  * `SparkEntry.queries` lines covering every operator family. Each pass
  * runs every query once in a seed-shuffled order; a query is built, forced
  * to the noop sink, and its registered checkpoints drained. Nothing is
  * cached across passes and no line consumes a trainer memo.
  */
object QueryMix {
  /** One line per operator family. `docs_lm_score` is builder-dominated;
    * `q06_forecast_revenue`, `emb_l2_norm` and `route_topic_counts` are short
    * fixed-cost lines where `Tables.read` schema inference is a large share;
    * `q21_waiting_supplier` and `dedup_minhash_lsh` are shuffle-heavy.
    */
  val Names: Seq[String] = Seq(
    "q06_forecast_revenue", "q21_waiting_supplier", "events_sessions", "dedup_minhash_lsh",
    "emb_l2_norm", "docs_lm_score", "mm_phash_neardups", "route_topic_counts")

  val Families: Seq[String] = Seq("tpch", "events", "dedup", "sim", "text", "mm", "route")

  def family(q: String): String = q.takeWhile(_ != '_') match {
    case t if t.matches("q\\d+") => "tpch"
    case "sim" | "emb" => "sim"
    case "text" | "docs" | "vocab" => "text"
    case other => other
  }

  val Tables10: Seq[String] = Seq("region", "nation", "supplier", "customer", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** One query run: builder time, force time, and (traced) its layers. */
  final case class QRun(name: String, buildMs: Double, forceMs: Double,
                        planMs: Map[String, Double] = Map.empty, buildJobs: Long = 0,
                        exec: ExecAgg = new ExecAgg, jobMs: Double = 0) {
    def ms: Double = buildMs + forceMs
  }

  final case class Pass(wallMs: Double, runs: Seq[QRun])

  def run(ctx: Ctx): Setup = {
    val (spark, s, out) = (ctx.spark, ctx.s, ctx.out)
    val queries = SparkEntry.queries
    val pins = Pins.load(s.pins, s.sf)

    // warm-up: a pass that also checks every output, then one untimed pass
    // (the first pass after the cold one is still ~15% slow)
    val w0 = System.nanoTime()
    val found = mutable.LinkedHashMap[String, Pins.Pin]()
    Names.foreach { q =>
      out.op(s"check $q") {
        try found(q) = Pins.of(queries(q)(spark, s.dataDir).collect())
        finally Cleanup.drain()
      }
    }
    if (s.writePins) Pins.write(s.pins, s.sf, found)
    else Names.foreach { q =>
      val ok = found.get(q).exists(f => pins.get(q).contains(f))
      out.check(s"query_mix.$q", ok, s"got ${found.get(q).map(_.show).getOrElse("no result")}, " +
        s"pinned ${pins.get(q).map(_.show).getOrElse("nothing")}")
    }
    def runQuery(q: String, pass: String, traced: Boolean): Option[QRun] = out.op(s"$q") {
      try ctx.tracer.filter(_ => traced) match {
        case None =>
          val a = System.nanoTime()
          val df = queries(q)(spark, s.dataDir)
          val b = System.nanoTime()
          ctx.force(df)
          QRun(q, (b - a) / 1e6, (System.nanoTime() - b) / 1e6)
        case Some(t) =>
          t.span("query", pass) { qid =>
            val (df, bId, bMs) = {
              val id = t.newId("s"); val a = t.now()
              val df = t.tagged(id)(queries(q)(spark, s.dataDir))
              val b = t.now(); t.add(Span(id, qid, "build", a, b)); (df, id, b - a)
            }
            t.takePlans()
            val xId = t.newId("s"); val f0 = t.now()
            t.tagged(xId)(ctx.force(df))
            val f1 = t.now()
            val plans = t.takePlans()
            val planMs = math.min(plans.values.sum, f1 - f0)
            t.add(Span(t.newId("s"), qid, "plan", f0, f0 + planMs))
            t.add(Span(xId, qid, "exec", f0 + planMs, f1))
            QRun(q, bMs, f1 - f0, plans, t.exec(bId).jobs, t.exec(xId), t.jobCoverMs(xId))
          }
      } finally Cleanup.drain()
    }

    def pass(k: Int, parent: String, traced: Boolean): Option[Pass] = {
      val order = new Random(s.seed * 1000003L + k).shuffle(Names)
      val a = System.nanoTime()
      val runs = ctx.tracer.filter(_ => traced) match {
        case Some(t) => t.span("pass", parent)(id => order.map(q => runQuery(q, id, traced)))
        case None => order.map(q => runQuery(q, "", traced))
      }
      val wall = (System.nanoTime() - a) / 1e6
      out.op(s"pass $k")(if (runs.forall(_.isDefined)) Pass(wall, runs.flatten)
        else throw new IllegalStateException(s"pass $k had failed queries"))
    }

    pass(-1, "", traced = false)
    val warmupS = (System.nanoTime() - w0) / 1e9

    val plain = mutable.ArrayBuffer[Pass]()
    val traced = mutable.ArrayBuffer[Pass]()
    val workload = ctx.tracer.map(_.newId("w")).getOrElse("")
    val t0 = ctx.tracer.map(_.now()).getOrElse(0.0)
    val end = ctx.deadline(s.seconds)
    var k = 0
    while (k < 1 || System.nanoTime() < end || (ctx.tracer.isDefined && k < 2)) {
      ctx.tracer match {
        case Some(t) if k % 2 == 1 =>
          t.attach(); pass(k, workload, traced = true).foreach(traced += _); t.detach()
        case _ => pass(k, workload, traced = false).foreach(plain += _)
      }
      k += 1
    }

    // the operation is a pass; the geometric mean is taken over each
    // query's median, so short fixed-cost lines weigh as much as long ones
    def e2e(ps: Seq[Pass]): Seq[(String, Double)] = {
      val walls = ps.map(_.wallMs)
      val perQuery = ps.flatMap(_.runs).groupBy(_.name).map { case (_, rs) => Stats.median(rs.map(_.ms)) }
      Seq("pass_s" -> Stats.median(walls) / 1e3, "latency_p50_ms" -> Stats.median(walls),
        "latency_geomean_ms" -> Stats.geomean(perQuery.toSeq))
    }
    if (plain.nonEmpty) out.e2e ++= e2e(plain.toSeq)
    val medians = plain.toSeq.flatMap(_.runs).groupBy(_.name).map { case (q, rs) => q -> Stats.median(rs.map(_.ms)) }
    out.info ++= Seq("sf" -> s.sf, "queries" -> Names.size,
      "passes" -> plain.size, "pass_ms" -> plain.map(_.wallMs), "query_mix_s" -> out.e2e.getOrElse("pass_s", Double.NaN),
      "query_geomean_s" -> out.e2e.getOrElse("latency_geomean_ms", Double.NaN) / 1e3,
      "query_median_ms" -> ListMap(medians.toSeq.sortBy(_._1): _*))

    ctx.tracer.foreach { t =>
      t.add(Span(workload, "", "workload", t0, t.now()))
      val tr = traced.toSeq
      val n = tr.size.max(1).toDouble
      val runs = tr.flatMap(_.runs)
      out.layer.put("entry.build_s", runs.map(_.buildMs).sum / n / 1e3)
      out.layer.put("entry.build_jobs", runs.map(_.buildJobs.toDouble).sum / n)
      for (ph <- Seq("analysis", "optimization", "planning"))
        out.layer.put(s"plans.${ph}_ms", runs.map(_.planMs.getOrElse(ph, 0.0)).sum / n)
      Exec.put(out, tr.map { p =>
        val agg = new ExecAgg; p.runs.foreach(r => agg += r.exec)
        (agg, p.runs.map(_.jobMs).sum, p.runs.map(r => r.forceMs - r.planMs.values.sum).sum)
      })
      for (f <- Families) {
        val fr = runs.filter(r => family(r.name) == f)
        out.layer.put(s"entry.$f.build_s", fr.map(_.buildMs).sum / n / 1e3)
        out.layer.put(s"exec.$f.wall_s", fr.map(_.jobMs).sum / n / 1e3)
        out.layer.put(s"exec.$f.cpu_ms", fr.map(_.exec.cpuNs.toDouble).sum / n / 1e6)
      }
      out.layer.put("pass.accounted_share", tr.map { p =>
        p.runs.map(r => r.buildMs + r.forceMs).sum / p.wallMs }.sum / n)
      e2e(tr).foreach { case (k2, v) => out.layer.put(s"trace_overhead.$k2", v - out.e2e.getOrElse(k2, Double.NaN)) }

      // Tables.read, timed directly on each table
      t.attach()
      val reads = Tables10.map { name =>
        val id = t.newId("s"); val a = t.now()
        t.tagged(id)(Tables.read(spark, s.dataDir, name))
        val ms = t.now() - a
        t.add(Span(id, workload, "tables.read", a, a + ms))
        t.drain(); (ms, t.exec(id).jobs)
      }
      t.detach()
      out.layer.put("tables.read_ms_p50", Stats.median(reads.map(_._1)))
      out.layer.put("tables.read_jobs", reads.map(_._2.toDouble).sum)
    }
    Setup(0.0, warmupS, 0.0)
  }
}

/** Row count and order-insensitive checksum of a query result, pinned per
  * scale factor in `perfbench/pins/sf<sf>.json`.
  */
object Pins {
  final case class Pin(rows: Long, checksum: String) {
    def show: String = s"$rows rows, checksum $checksum"
  }

  /** Doubles are compared at 6 significant digits, so summation order
    * cannot flip a checksum.
    */
  private def canon(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d == 0.0) "0" else String.format(java.util.Locale.ROOT, "%.5e", Double.box(d))
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def of(rows: Array[Row]): Pin = {
    var sum = 0L
    rows.foreach { r =>
      val h = java.security.MessageDigest.getInstance("SHA-256").digest(canon(r).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h).getLong
    }
    Pin(rows.length, f"$sum%016x")
  }

  private def file(path: String, sf: String) = java.nio.file.Paths.get(path, s"sf$sf.json")

  def load(path: String, sf: String): Map[String, Pin] = {
    val f = file(path, sf)
    if (!java.nio.file.Files.exists(f)) Map.empty
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f.toFile)
      root.properties().iterator().asScala.map { e =>
        e.getKey -> Pin(e.getValue.get("rows").asLong, e.getValue.get("checksum").asText)
      }.toMap
    }
  }

  def write(path: String, sf: String, pins: collection.Map[String, Pin]): Unit = {
    val body = pins.toSeq.sortBy(_._1).map { case (q, p) =>
      s"  ${Json.quote(q)}: {\"rows\": ${p.rows}, \"checksum\": ${Json.quote(p.checksum)}}" }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path))
    java.nio.file.Files.write(file(path, sf), body.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
  }
}
