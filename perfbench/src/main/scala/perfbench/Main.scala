package perfbench

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its raw record as one line starting with
  * `PERFBENCH_RAW `. `run.py` turns the record into the benchmark's
  * metrics and checks every operation's output.
  *
  * Usage: perfbench.Main --workload <ingest|ask|catalog> --seed <n>
  *   --seconds <s> --trace <0|1> --data <dir> --work <dir>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val cores = Runtime.getRuntime.availableProcessors
    val work = opt("work")
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    def mark(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")
    mark("session up")
    try {
      val ctx = Ctx(spark, opt("data"), work, opt("seed").toLong, opt("seconds").toDouble,
        new Tracer(spark, opt("trace") == "1"))
      val out = workload match {
        case "ingest" => Workloads.ingest(ctx)
        case "ask" => Workloads.ask(ctx)
        case "catalog" => Workloads.catalog(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val raw = Map(
        "workload" -> workload, "cores" -> cores, "session_s" -> sessionS,
        "setup_s" -> out.setupS, "setup" -> out.setupDetail, "ops" -> out.ops, "info" -> out.info,
        "peak_rss_kb" -> peakRssKb, "spans" -> ctx.trace.spansJson, "groups" -> ctx.trace.groupsJson)
      mark("workload done")
      println("PERFBENCH_RAW " + Json(raw))
    } finally {
      spark.stop()
      mark("session stopped")
    }
  }

  /** The process's peak resident set (VmHWM), in KiB. */
  def peakRssKb: Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    finally src.close()
  }
}

/** Minimal JSON rendering for the raw record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
