package graft.perfbench

/** Self-test entry: runs one registered lane three times, each as a
  * tagged call (the `graft.BenchOne --jobs` protocol), and prints the jobs
  * the [[Tracer]] attributed to the third run — which must equal the count
  * `BenchOne --jobs` prints for the same lane.
  *
  * Usage: `Attribution <lane> <sf dir>`
  */
object Attribution {
  def main(args: Array[String]): Unit = {
    val Array(lane, sf) = args
    val spark = graft.Sessions.local("perfbench-attribution")
    val sc = spark.sparkContext
    val tracer = new Tracer
    sc.addSparkListener(tracer)
    (1 to 3).foreach { i =>
      sc.setLocalProperty(Tracer.CallProp, i.toString)
      graft.SparkEntry.queries(lane)(spark, sf).queryExecution.toRdd.count()
      spark.catalog.clearCache()
      sc.setLocalProperty(Tracer.CallProp, null)
      graft.util.DeferredCleanup.drain()
    }
    org.apache.spark.graftbench.Bus.drain(sc)
    val jobs = tracer.synchronized(tracer.byCall.get(3).map(_.jobs).getOrElse(0))
    println(s"ATTRIBUTED $lane jobs=$jobs")
    spark.stop()
  }
}
