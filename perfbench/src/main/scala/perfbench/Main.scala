package perfbench

import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** The benchmark's JVM side. It builds a session with graft's settings,
  * sets the workload up three times, makes one untimed first pass over the
  * queries (so the timed passes run warm), then runs whole timed passes, at
  * least two and more while the next one fits in `--seconds`, then the
  * coverage queries (a stratified draw from the rest of the registry), and
  * writes every operation's record to `--out` as JSON. With `--trace 1`
  * every operation of a timed pass also runs traced; the spans go to
  * `spans.json` in the work directory.
  *
  *   perfbench.Main --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *     [--tables DIR --queries a,b,.. --warmup a,b,.. [--ranking FILE --stratum K]]
  *     [--dump FILE --truth FILE --cycles N]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)

    val t0 = System.nanoTime()
    val spark = GraftSession.builder("perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark)
    def list(k: String): Seq[String] = opt.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
    val rng = new scala.util.Random(opt("seed").toLong)
    val queries = if (opt.contains("dump")) None else Some(new QueryWorkload(
      spark, tracer, opt("tables"), rng.shuffle(list("queries")), list("warmup")))
    val workload: Workload = queries.getOrElse(
      new IngestWorkload(spark, tracer, opt("dump"), opt("truth"), work, opt("cycles").toInt))
    val coverage = opt.get("stratum").fold(Seq.empty[String]) { k =>
      val timed = list("queries").toSet
      stratified(SparkEntry.queries.keys.toSeq.sorted.filterNot(timed), opt("ranking"), k.toInt, rng)
    }

    val setups = (1 to 3).map { _ =>
      val s = System.nanoTime()
      val items = workload.setup()
      ((System.nanoTime() - s) / 1e9, items)
    }

    // An untimed first pass over the queries, so the timed passes run warm.
    val first = if (queries.isDefined) {
      val s = System.nanoTime()
      val items = (0 until workload.size).map(i => workload.run(i) + ("traced" -> false))
      Some(Json.obj("wall_s" -> (System.nanoTime() - s) / 1e9, "items" -> items))
    } else None

    // A traced run runs every operation twice, untraced and traced; which
    // goes first alternates by operation and by pass, so the traced runs
    // compare with untraced runs that were on average as warm.
    def once(i: Int, traced: Boolean): Map[String, Any] = {
      if (traced) tracer.enable() else tracer.disable()
      workload.run(i) + ("traced" -> traced) + ("slot" -> i)
    }
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    val start = System.nanoTime()
    var last = 0.0
    while (passes.size < 2 || (System.nanoTime() - start) / 1e9 + last <= seconds) {
      val s = System.nanoTime()
      val items = (0 until workload.size).flatMap { i =>
        if (!trace) Seq(once(i, traced = false))
        else Seq(true, false).map(t => once(i, t ^ ((i + passes.size) % 2 == 0)))
      }
      last = (System.nanoTime() - s) / 1e9
      passes += Json.obj("wall_s" -> last, "items" -> items)
    }
    tracer.disable()
    if (trace) tracer.write(work.resolve("spans.json"))

    // queries drawn from the rest of the registry: output-checked, untimed
    val covered = queries.toSeq.flatMap(q => coverage.map(q.query(_) + ("traced" -> false)))

    Files.writeString(Paths.get(opt("out")), Json.write(Json.obj(
      "n_registry" -> SparkEntry.queries.size,
      "cores" -> spark.sparkContext.defaultParallelism,
      "session_s" -> sessionS,
      "setup_s" -> setups.map(_._1),
      "setup_items" -> setups.flatMap(_._2).map(_ + ("traced" -> false)),
      "first_pass" -> first,
      "passes" -> passes.toSeq,
      "coverage_items" -> covered,
      "spans" -> tracer.recorded.size,
      "peak_rss_mb" -> peakRssMb())))
    spark.stop()
  }

  /** One query from each group of `k` queries adjacent in `ranking`'s
    * seed-commit times (slowest first; queries it does not know come last),
    * chosen by `rng`: a sample that spans the registry's cost range.
    */
  private def stratified(names: Seq[String], ranking: String, k: Int,
      rng: scala.util.Random): Seq[String] = {
    val ref = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(Paths.get(ranking))).get("queries")
    def refS(n: String): Double = Option(ref.get(n)).map(_.get("ref_s").asDouble).getOrElse(0.0)
    names.sortBy(n => (-refS(n), n)).grouped(k).map(g => g(rng.nextInt(g.size))).toSeq
  }

  /** High-water resident set of this JVM, from the kernel's accounting. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)
}
