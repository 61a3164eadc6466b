package graft.perfbench

/** Failure accounting of the op runner, without a Spark session:
  * a thrown op and a failed check are failed samples, a fatal error ends
  * the run. Prints one line per case and exits 1 on any mismatch.
  *
  *   java -cp <classpath> graft.perfbench.SelfTest */
object SelfTest {
  def main(args: Array[String]): Unit = {
    def op(run: () => () => Boolean) = Op("t", "probe", "f", 1L, run)
    val cases = Seq(
      "ok op is a good sample" -> BenchMain.runOp(op(() => () => true)).ok,
      "thrown op is failed" -> !BenchMain.runOp(op(() => throw new RuntimeException("x"))).ok,
      "wrong output is failed" -> !BenchMain.runOp(op(() => () => false)).ok,
      "thrown check is failed" -> !BenchMain.runOp(op(() => () => throw new IllegalStateException)).ok,
      "fatal error aborts" -> (try {
        BenchMain.runOp(op(() => throw new OutOfMemoryError("fatal")))
        false
      } catch { case _: OutOfMemoryError => true }))
    cases.foreach { case (name, ok) => println(s"${if (ok) "ok  " else "FAIL"} $name") }
    if (cases.exists(!_._2)) sys.exit(1)
  }
}
