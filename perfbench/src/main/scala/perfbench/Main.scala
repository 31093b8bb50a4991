package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Runs one workload for a measured interval and writes its metrics as
  * JSON. Argument: the path of the run's spec file (see `run.py`). */
object Main {

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val spec = new ObjectMapper().readTree(new File(args(0)))
    val workload = spec.get("workload").asText
    val seed = spec.get("seed").asLong
    val seconds = spec.get("seconds").asDouble
    val trace = spec.get("trace").asInt == 1
    val data = spec.get("data").asText
    val work = spec.get("work").asText
    Harness.quietLogs()
    Harness.workDir = work

    val unforwarded = TimedBackend.unforwarded()
    if (unforwarded.nonEmpty) {
      System.err.println("timing decorator does not forward: " + unforwarded.mkString("; "))
      sys.exit(3)
    }
    TimedBackend.register(Seq("memory", "hive2"))

    val spark = Harness.step("session start")(Harness.session(work))
    val listener = new ExecListener
    spark.sparkContext.addSparkListener(listener)
    val w: Workload = workload match {
      case "catalog_ops" => new CatalogOps(spark, seed, spec.get("catalog_tables").asInt)
      case "sql_lookup" =>
        new SqlLookup(spark, seed, data, work, queries(spec.get("queries")),
          spec.get("declared_tables").asInt)
      case "write_commit" =>
        val b = spec.get("base")
        new WriteCommit(spark, data, work, spec.get("write_base_rows").asInt,
          WriteCommit.Totals(b.get("rows").asLong, b.get("id_sum").asLong,
            b.get("user_sum").asLong, b.get("props_len").asLong),
          b.get("bytes").asLong)
    }
    Harness.step("workload set-up")(w.setup())
    val setupS = (System.nanoTime() - t0) / 1e9

    val runner = new Runner(spark, w)
    Harness.step("warm-up")(runner.warmup(w.warmupSeconds))
    val jvm = Harness.jvmTimes()
    Harness.step("measure")(runner.measure(seconds, alternate = trace))
    val jvmAfter = Harness.jvmTimes()
    System.err.println("[perfbench] measured phase: " + jvmAfter.keys.toSeq.sorted
      .map(k => f"$k=${jvmAfter(k) - jvm(k)}%.0f ms").mkString(" "))
    org.apache.spark.ListenerDrain(spark.sparkContext)
    runner.samples.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, ss) =>
      val p50 = Stats.median(ss.map(_.ms).toSeq)
      System.err.println(f"[perfbench] $k%-22s n=${ss.size}%4d p50=$p50%9.2f ms")
    }

    val metrics =
      if (trace) Metrics.layers(runner, w, listener)
      else Metrics.endToEnd(runner, setupS)
    val out = Map("attempted" -> runner.attempted, "failed" -> runner.failed,
      "failures" -> runner.failures.toSeq, "metrics" -> metrics)
    Files.write(new File(spec.get("out").asText).toPath, Json(out).getBytes(UTF_8))
    Harness.step("session stop")(spark.stop())
    sys.exit(0)
  }

  private def queries(node: JsonNode): Seq[SqlLookup.Query] =
    node.elements.asScala.map { q =>
      SqlLookup.Query(q.get("shape").asText, q.get("sql").asText, q.get("index").asText,
        q.get("expected").elements.asScala.map(_.asText).toSeq)
    }.toSeq
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(apply).mkString("[", ",", "]")
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case b: Boolean => b.toString
    case other => quote(String.valueOf(other))
  }
  private def quote(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
