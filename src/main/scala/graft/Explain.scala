package graft

/** Dev tool: dump formatted plans for selected queries (plan-quality
  * review) — under [[Bench]]'s session and env contract, so the plans
  * printed are the plans the bench runs. `SPARK_GRAFT_SF_DIR` names the
  * fixture directory and is required; `SPARK_GRAFT_CPUS` sets the
  * parallelism. */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException(
        "set SPARK_GRAFT_SF_DIR to the fixture directory"))
    val spark = Bench.session()
    args.foreach { name =>
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
