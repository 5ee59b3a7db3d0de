package perfbench

import java.nio.file.{Files, Paths}

import graft.{DriverHygiene, SparkEntry}

/** Query mix over static tables: CPU-heavy kernels of the battery, plus
  * one session of the growing-dedup stream (`StreamDedup`), in a
  * seed-shuffled order per round. Each timed query writes every row (a
  * `count()` lets Catalyst prune the columns it does not need, and
  * under-reads the query). */
object QueryMix {
  val Queries: Seq[String] = Seq(
    "graph_triangles", "analytics_exact_quantiles", "text_collocations")
  private val Stream = "stream"

  /** Layer of a query, by its name prefix. */
  def layerOf(q: String): String = q.takeWhile(_ != '_') match {
    case "core" | "matchlink" | "graph" | "fixpoint" | "centrality" => "graph"
    case "permission" => "permissions"
    case "analytics" => "operators"
    case p => p
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val data = s"${ctx.args.data}/mix"
    val checkDir = s"${ctx.args.work}/mix_results"
    writeOracles(s"$checkDir/oracle_sql.json")
    val stream = new StreamDedup(ctx)
    val rnd = new scala.util.Random(ctx.args.seed)
    rec.setupDone()
    val start = System.nanoTime()
    val deadline = ctx.deadlineNs(start)
    var round = 0
    // Round 0 is the cold round: it writes each result to parquet for the
    // oracle check; warm rounds write every row to the noop sink.
    while (round < stream.sessionCount && ctx.another(round, deadline)) {
      if (round == 1) ctx.startWarm()
      rec.roundStart()
      var roundS = 0.0
      rnd.shuffle(Queries :+ Stream).foreach {
        case Stream => roundS += stream.session(round)
        case q =>
          rec.attempted += 1
          val t0 = System.nanoTime()
          try ctx.ledger.span(layerOf(q)) {
            val df = SparkEntry.queries(q)(spark, data)
            if (round == 0) df.write.parquet(s"$checkDir/$q")
            else df.write.format("noop").mode("overwrite").save()
          } catch { case scala.util.control.NonFatal(e) => rec.fail(s"$q: ${e.getMessage}") }
          val dt = (System.nanoTime() - t0) / 1e9
          roundS += dt
          rec.op(s"r$round.$q", dt)
          DriverHygiene.releasePersisted(spark)
      }
      rec.round(s"round$round", roundS)
      round += 1
    }
    rec.check("stream sessions available for the whole run",
      round < stream.sessionCount || System.nanoTime() >= deadline,
      s"ran out of staged sessions after $round")
    if (rec.failures.isEmpty) stream.check()
  }

  /** The mix's oracles, in the `oracle_sql.json` form that
    * `scripts/selfcheck.py` reads. */
  def writeOracles(path: String): Unit = {
    import org.json4s._
    val json = org.json4s.jackson.JsonMethods.compact(
      JObject(Queries.map(n => JField(n, JString(SparkEntry.oracleSql(n)))).toList))
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), json)
  }
}
