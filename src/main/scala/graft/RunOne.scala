package graft

/** Single-query profiling main: `runMain graft.RunOne <name> <sfDir> [reps]`
  * times one SparkEntry query in a fresh session (noop sink, caches
  * released between reps) so a hot query can be profiled without the
  * bench's full sweep around it. The key and `reps` (a positive integer,
  * default 1) are checked before the session starts.
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name  = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps  = GraftSession.positive("reps", "repetition count", args.lift(2), 1)
    SparkEntry.requireKnown(Seq(name), "RunOne")
    val q = SparkEntry.queries(name)
    val spark = GraftSession.create("graft-run-one")
    for (r <- 1 to reps) {
      val t0 = System.nanoTime()
      q(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"$name rep $r: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      GraftSession.releaseCaches(spark)
    }
    spark.stop()
  }
}
