package graft.perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query_mix client: one closed loop over the gate queries
  * (`graft.SparkEntry.queries`) in the given order.
  *
  *  - mode `check`: one pass, each result written in full as parquet for
  *    the oracle comparison (untimed).
  *  - mode `timed`: `passes` whole passes; each result is materialised
  *    in full with a `noop` write (a `count()` would let column pruning
  *    skip work).
  *  - mode `traced`: one pass with a span per query phase: the builder
  *    call, `queryExecution.executedPlan`, then execution.
  */
object QueryMix {
  def run(spark: SparkSession, c: JsonNode): ObjectNode = {
    val names = Agent.strings(c.path("names"))
    val sfDir = c.path("sf_dir").asText()
    val all = graft.SparkEntry.queries
    val recs = Agent.mapper.createArrayNode()
    def record(pass: Int, name: String, ms: Double, err: String): Unit =
      recs.add(Agent.obj("pass" -> pass, "name" -> name, "ms" -> ms, "error" -> err))
    c.path("mode").asText() match {
      case "check" =>
        names.foreach { n =>
          val t = System.nanoTime()
          val err = attempt {
            all(n)(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"${c.path("out").asText()}/$n")
          }
          record(0, n, (System.nanoTime() - t) / 1e6, err)
        }
      case "timed" =>
        (0 until c.path("passes").asInt(1)).foreach { pass =>
          names.foreach { n =>
            val t = System.nanoTime()
            val err = attempt(noop(all(n)(spark, sfDir)))
            record(pass, n, (System.nanoTime() - t) / 1e6, err)
          }
        }
      case "traced" =>
        val spans = new Spans(spark.sparkContext)
        names.foreach { n =>
          val t = System.nanoTime()
          val err = attempt {
            val df = spans("queries", s"$n:construct")(all(n)(spark, sfDir))
            spans("queries", s"$n:plan")(df.queryExecution.executedPlan)
            spans("queries", s"$n:execute")(noop(df))
          }
          record(0, n, (System.nanoTime() - t) / 1e6, err)
        }
        return Agent.obj("records" -> recs, "spans" -> Replay.spansJson(spans.done.toSeq),
          "unattributed" -> Replay.workJson(spans.unattributed))
    }
    val oracle = Agent.mapper.createObjectNode()
    names.foreach(n => graft.SparkEntry.oracleSql.get(n).foreach(sql => oracle.put(n, sql)))
    Agent.obj("records" -> recs, "oracle" -> oracle)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def attempt(f: => Unit): String =
    try { f; null } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500) }
}
