package graft.changesets

import graft.GraftSession

/** CLI parity with the reference converter (src/main.rs:20-38):
  * --input, --output, --batch-size, --continue-on-error, plus
  * --single-file for the reference's one-file output contract.
  */
object Main {
  private val usage =
    """usage: graft.changesets.Main --input <xml[.bz2]> --output <parquet dir>
      |         [--batch-size N] [--continue-on-error] [--single-file]""".stripMargin

  def main(args: Array[String]): Unit = {
    var input = ""
    var output = ""
    var opts = ChangesetConverter.Options()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--input" => input = args(i + 1); i += 2
        case "--output" => output = args(i + 1); i += 2
        case "--batch-size" => opts = opts.copy(batchSize = args(i + 1).toLong); i += 2
        case "--continue-on-error" => opts = opts.copy(continueOnError = true); i += 1
        case "--single-file" => opts = opts.copy(singleFile = true); i += 1
        case other => System.err.println(s"unknown option: $other\n$usage"); sys.exit(2)
      }
    }
    if (input.isEmpty || output.isEmpty) { System.err.println(usage); sys.exit(2) }
    val spark = GraftSession.build("graft-changesets")
    try {
      val n = ChangesetConverter.convert(spark, input, output, opts)
      // reference parity: --continue-on-error runs dump the structural
      // error block (position / last id / context) to stderr
      // (reference src/main.rs:344-363) instead of skipping silently
      if (opts.continueOnError) {
        val damaged = ConverterDiagnostics.printReport(spark, input)
        if (damaged > 0)
          System.err.println(s"Continuing with $n successfully parsed changesets...")
      }
      println(s"Total changesets processed: $n")
    } finally spark.stop()
  }
}
