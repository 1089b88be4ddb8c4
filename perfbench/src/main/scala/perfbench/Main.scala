package perfbench

/** Benchmark entry point, launched by `run.py` once it has built the
  * code and generated the inputs. Runs one workload and writes its raw
  * record (samples, check failures, validity, per-layer metrics) to
  * `--out`; `run.py` turns that into the result line.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = Args.parse(argv)
    val h = new Harness(args, t0)
    h.log("jvm started")
    try {
      args.workload match {
        case "pipe" => PipeBench.run(h)
        case "suite-driver" => SuiteBench.run(h)
        case "ingest-stream" => IngestBench.run(h)
        case w => throw new IllegalArgumentException(s"unknown workload: $w")
      }
      h.finish()
    } finally h.spark.stop()
  }
}
