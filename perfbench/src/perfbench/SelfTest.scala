package perfbench

import java.util.Locale

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Checks of the benchmark's own assumptions; `run.py --selftest`. */
object SelfTest {
  def run(spark: SparkSession, o: Main.Opts): Int = {
    val results = Seq(
      "timed action keeps q_str_ops' string expressions" -> timedPlanKeepsWork(spark, o),
      "emitter is locale-free under a comma-decimal default locale" -> emitterLocaleFree(),
      "codegen fallbacks are counted" -> fallbacksCounted(spark))
    results.foreach { case (name, err) =>
      System.err.println((if (err.isEmpty) "PASS " else "FAIL ") + name + err.fold("")(": " + _))
    }
    Main.write(o.out, Emit.json(Map("selftest" ->
      results.map { case (n, e) => Map("name" -> n, "error" -> e.orNull) })))
    if (results.forall(_._2.isEmpty)) 0 else 1
  }

  /** The physical plan of every execution `body` triggers. */
  private def plans(spark: SparkSession)(body: => Unit): Seq[String] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.synchronized(seen += qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; PerfbenchBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    seen.synchronized(seen.toList)
  }

  /** `count()` lets Catalyst prune q_str_ops to a bare scan; the noop sink
    * must not. */
  def timedPlanKeepsWork(spark: SparkSession, o: Main.Opts): Option[String] = {
    val fn = Main.builders("q_str_ops")
    val wanted = Seq("lower(", "upper(", "regexp_extract(", "lpad(")
    val timed = plans(spark)(fn(spark, o.data).write.format("noop").mode("overwrite").save())
      .mkString("\n")
    val counted = plans(spark)(fn(spark, o.data).count()).mkString("\n")
    val missing = wanted.filterNot(timed.contains)
    if (missing.nonEmpty) Some(s"timed plan lacks ${missing.mkString(", ")}:\n$timed")
    else if (wanted.exists(counted.contains))
      Some("count() no longer prunes q_str_ops; revisit the note in NOTES.md")
    else None
  }

  def emitterLocaleFree(): Option[String] = {
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      val v = 1234.5678
      if (String.format("%.1f", Double.box(v)) != "1234,6")
        Some("the test locale does not use a comma separator")
      else {
        val s = Emit.json(Map("m" -> Map("value" -> v, "unit" -> "s", "passes" -> 3)))
        val want = """{"m":{"passes":3,"unit":"s","value":1234.5678}}"""
        if (s == want) None else Some(s"emitted $s, wanted $want")
      }
    } finally Locale.setDefault(saved)
  }

  /** Force a real fallback: with a one-byte method limit every
    * whole-stage-codegen stage gives up and runs interpreted. */
  def fallbacksCounted(spark: SparkSession): Option[String] = {
    val before = CodegenFallbacks.count
    spark.conf.set("spark.sql.codegen.hugeMethodLimit", "1")
    try spark.range(0, 100, 1, 2).selectExpr("id * 2 AS x").groupBy("x").count().collect()
    finally spark.conf.unset("spark.sql.codegen.hugeMethodLimit")
    if (CodegenFallbacks.count > before) None
    else Some("no fallback counted under spark.sql.codegen.hugeMethodLimit=1")
  }
}
