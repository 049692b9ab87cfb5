package graftbench

import java.io.File

/** Runs every workload's set-up and warm-up once, in one JVM, so that a
  * class-data-sharing archive dumped at its exit holds the classes all
  * workloads load. run.py makes that archive right after a build; later
  * runs map it instead of loading and verifying those classes again.
  *
  *   graftbench.Train --work <dir>
  */
object Train {
  def main(args: Array[String]): Unit = {
    val work = new File(args.grouped(2).collect { case Array("--work", v) => v }.toSeq.headOption
      .getOrElse(sys.error("--work <dir> is required")))
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = graft.GraftSession.builder(cores)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try Workloads.Names.foreach { name =>
      val ctx = new Ctx(spark, 1L, new File(work, name), None)
      val w = Workloads(name, ctx)
      w.setup(0)
      // one cycle of op kinds loads every class the workload needs
      (0 until math.min(10, w.warmupOps)).foreach(i => w.next(i).body()())
    } finally spark.stop()
    sys.exit(0)
  }
}
