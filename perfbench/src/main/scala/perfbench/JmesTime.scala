package perfbench

import graft.jmespath.{JValue, Parser}

/** Single-thread cost of the `graft.jmespath` layer on its own:
  * `JValue.parseOpt` and `Parser.compile(f).search` over a sample of
  * documents, one per line of the input file.
  *
  * {{{
  * JmesTime <docsFile> <filter> <rounds>
  * }}}
  *
  * Prints one line, `PB jmes <parse_us_per_doc> <search_us_per_doc> <docs>
  * <matches>`, the times each the median over the timed rounds after as many
  * warm-up rounds.
  */
object JmesTime {
  def main(args: Array[String]): Unit = {
    val Array(docsFile, filter, rounds) = args
    val docs = scala.io.Source.fromFile(docsFile, "UTF-8").getLines().toArray
    val compiled = Parser.compile(filter)
    var sink = 0L // printed, so the JIT cannot drop the searches
    def timeRound(): (Double, Double) = {
      val t0 = System.nanoTime()
      val parsed = docs.map(d => JValue.parseOpt(d).get)
      val t1 = System.nanoTime()
      parsed.foreach(p => if (compiled.search(p).truthy) sink += 1)
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e3 / docs.length, (t2 - t1) / 1e3 / docs.length)
    }
    val n = rounds.toInt
    (1 to n).foreach(_ => timeRound())
    val timed = (1 to n).map(_ => timeRound())
    def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    println(f"PB jmes ${median(timed.map(_._1))}%.4f ${median(timed.map(_._2))}%.4f ${docs.length} $sink")
  }
}
