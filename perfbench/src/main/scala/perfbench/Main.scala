package perfbench

import java.nio.file.{Path, Paths}
import graft.GraftSession

/** One benchmark run's settings. `t0Ms` is when the launcher started the
  * JVM, so set-up time includes JVM and session start. */
final case class Env(workload: String, seed: Long, seconds: Double, trace: Boolean,
    home: Path, work: Path, t0Ms: Long) {
  def sinceStart(): Double = (System.currentTimeMillis() - t0Ms) / 1000.0
}

object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val env = Env(
      workload = kv.getOrElse("workload", ""),
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "10").toDouble,
      trace = kv.getOrElse("trace", "0") == "1",
      home = Paths.get(sys.props("perfbench.home")),
      work = Paths.get(sys.props("perfbench.work")),
      t0Ms = sys.props.get("perfbench.t0").map(_.toLong).getOrElse(System.currentTimeMillis()))
    val spark = GraftSession.local("perfbench", Cores)
    spark.sparkContext.setLogLevel("ERROR")
    val code =
      try {
        if (args.contains("--selfcheck")) SelfCheck.run(env, spark)
        else if (args.contains("--pin")) {
          RegistryBench.digests(spark, RegistryBench.tables(spark, env))
            .foreach { case (q, n, h) => println(s"$q\t$n\t$h") }
          0
        } else {
          val r = env.workload match {
            case "pipeline_steady" => PipelineBench.run(env, spark, PipelineBench.converter(env))
            case "registry_slice" => RegistryBench.run(env, spark)
            case w => sys.error(s"unknown workload '$w'")
          }
          println((if (env.trace) r.copy(metrics = Layers.complete(r.metrics)) else r).json)
          0
        }
      } finally spark.stop()
    sys.exit(code)
  }
}
