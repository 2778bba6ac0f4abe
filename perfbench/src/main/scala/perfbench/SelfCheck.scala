package perfbench

import org.apache.spark.sql.SparkSession

/** Checks on the benchmark itself (`run.py --selfcheck`): generation is
  * deterministic by seed, and the pipeline checks catch a converter that
  * exits 0 without writing its output. */
object SelfCheck {
  def run(env: Env, spark: SparkSession): Int = {
    val root = env.work.resolve("selfcheck")
    val results = Seq.newBuilder[(String, Boolean)]

    def tree(name: String, seed: Long): String = {
      val watch = root.resolve(name)
      for (i <- 0 until 24) RunTree.writeRun(watch, f"plate${i % 4}%02d", f"r$i%03d", 2, 4096, seed)
      RunTree.grow(watch.resolve("plate00").resolve("r000.d"), 1024, seed, 1)
      RunTree.digest(watch)
    }
    val (t1, t2, t3) = (tree("t1", env.seed), tree("t2", env.seed), tree("t3", env.seed + 1))
    results += "run tree: same seed, same bytes" -> (t1 == t2)
    results += "run tree: other seed, other bytes" -> (t1 != t3)

    def tables(name: String, seed: Long): Seq[(Long, Long)] = {
      val dir = root.resolve(name).toString
      FixtureGen.generate(spark, dir, 0.001, seed)
      Seq("customer", "part", "orders", "lineitem", "events", "documents", "embeddings")
        .map(t => RegistryBench.digest(spark.read.parquet(s"$dir/$t.parquet")))
    }
    val (d1, d2, d3) = (tables("f1", env.seed), tables("f2", env.seed), tables("f3", env.seed + 1))
    results += "tables: same seed, same rows" -> (d1 == d2)
    results += "tables: other seed, other rows" -> d1.zip(d3).forall { case (a, b) => a != b }

    def steady(name: String, lie: Boolean): RunResult =
      PipelineBench.run(env.copy(seconds = 0, trace = false, work = root.resolve(name)), spark,
        PipelineBench.converter(env, lie), seedRuns = 32)
    val honest = steady("honest", lie = false)
    results += "pipeline: honest converter passes every check" -> (honest.checksOk && honest.failed == 0)
    val liar = steady("liar", lie = true)
    results += "pipeline: converter that writes nothing fails operations" -> (liar.failed > 0)

    val all = results.result()
    all.foreach { case (what, ok) => println(s"${if (ok) "ok  " else "FAIL"} $what") }
    val ok = all.forall(_._2)
    println(if (ok) "SELFCHECK PASSED" else "SELFCHECK FAILED")
    if (ok) 0 else 1
  }
}
