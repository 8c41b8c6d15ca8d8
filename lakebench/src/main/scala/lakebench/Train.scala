package lakebench

import java.io.File

/** The build's class-loading training run:
  *
  *   lakebench.Train <work dir>
  *
  * Runs the warm-up of every workload of BENCHMARK.json once, in one
  * JVM, so the class-data-sharing archive that JVM dumps at exit holds
  * the classes a benchmark run loads. Nothing is measured or checked.
  */
object Train {
  def main(argv: Array[String]): Unit = {
    val work = new File(argv.headOption.getOrElse(".bench_build/lakebench/train")).getAbsolutePath
    val spark = Main.session()
    try Workloads.gated.foreach { w =>
      w.warmup(Ctx(spark, 1L, 1, new File(work, w.name).getAbsolutePath, None), new Recorder(spark, None))
    } finally {
      spark.stop()
      Fs.delete(work)
    }
  }
}
