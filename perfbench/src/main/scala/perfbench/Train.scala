package perfbench

/** Runs each named workload once, briefly, in one JVM, so that the
  * class-data archive the JVM dumps at exit holds the classes of all of
  * them (see run.py). Its output is not a measurement.
  *
  * {{{
  * Train <workload> <work dir> [<workload> <work dir> ...]
  * }}} */
object Train {
  def main(args: Array[String]): Unit =
    args.grouped(2).foreach { case Array(w, dir) =>
      Main.main(Array("--workload", w, "--seed", "0", "--seconds", "1", "--trace", "0", "--work", dir))
    }
}
