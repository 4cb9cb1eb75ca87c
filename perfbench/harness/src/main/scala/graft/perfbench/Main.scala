package graft.perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** JVM side of the perfbench: runs one [[Workloads]] entry on local[cores] over
  * inputs generated by perfbench/gen.py and writes a result JSON file.
  *
  *   Main --workload W --seed N --seconds S --trace 0|1
  *        --inputs DIR --work DIR --out FILE --cores N
  */
object Main {
  private def loadAvg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.all.getOrElse(o("workload"),
      throw new IllegalArgumentException(s"unknown workload ${o("workload")}"))
    val cores = o("cores").toInt
    // graft.Bench's calm-down guard with no wait: it samples and logs the
    // load. A wait would not fit the run budget, and on a 4-vCPU box the
    // load average still holds the previous run, so it never reads calm.
    val startLoad = graft.Bench.waitForCalm(() => loadAvg(), cores, 0L, 1000L)
    val sparkNs = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o("workload")}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, o("trace") == "1")
    val ctx = new Ctx(spark, tracer, o("inputs"), o("work"), o("seed").toLong,
      o("seconds").toDouble, cores)
    val t0 = System.nanoTime()
    ctx.info("spark_start_s") = f"${(t0 - sparkNs) / 1e9}%.3f"
    var error: Option[String] = None
    try Workloads.run(ctx, workload(ctx))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val endNs = System.nanoTime()
    val rss = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)
    val confs = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.graft")
    }
    val out = Json.obj(
      "workload" -> Json.str(o("workload")),
      "ok" -> (error.isEmpty && ctx.checks.values.forall(identity) && ctx.checks.nonEmpty).toString,
      "error" -> error.map(Json.str).getOrElse("null"),
      "attempted" -> ctx.attempted.toString,
      "failed" -> (ctx.failed + (if (error.nonEmpty) 1 else 0)).toString,
      // wall-clock time of the first timed op (set-up ends there)
      "first_timed_ms" -> Json.num(System.currentTimeMillis() -
        (System.nanoTime() - (if (ctx.firstTimedNs > 0) ctx.firstTimedNs else t0)) / 1e6),
      "run_s" -> Json.num((endNs - t0) / 1e9),
      "peak_rss_mb" -> Json.num(rss),
      "load_start" -> Json.num(startLoad),
      "load_end" -> Json.num(loadAvg()),
      "e2e" -> Json.map(ctx.e2e.toSeq),
      "ops" -> Json.obj(ctx.samples.toSeq.map { case (k, v) => k -> Json.arr(v.toSeq.map(Json.num)) }: _*),
      "layer" -> Json.map(ctx.layer.toSeq),
      "checks" -> Json.obj(ctx.checks.toSeq.map { case (k, v) => k -> v.toString }: _*),
      "info" -> Json.obj(ctx.info.toSeq.map { case (k, v) => k -> Json.str(v) }: _*),
      "conf" -> Json.obj(confs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*),
      "java" -> Json.str(System.getProperty("java.version")),
      "spark" -> Json.str(spark.version),
      "spans" -> (if (tracer.enabled) Json.arr(tracer.spans.toSeq.map(s => Json.obj(
        "id" -> s.id.toString, "layer" -> Json.str(s.layer), "name" -> Json.str(s.name),
        "parent" -> s.parent.toString, "start_s" -> Json.num((s.start - t0) / 1e9),
        "end_s" -> Json.num((s.end - t0) / 1e9)))) else "[]"))
    Files.writeString(Paths.get(o("out")), out + "\n")
    spark.stop()
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def map(kv: Seq[(String, Double)]): String = obj(kv.map { case (k, v) => k -> num(v) }: _*)
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
