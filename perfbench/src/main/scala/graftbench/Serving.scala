package graftbench

import scala.io.Source

import graft.Engine

/** serving: BM25 term-set probes and IVF-PQ ANN probes against indexes
  * built in set-up, with index maintenance between them: each round is
  * 12 probes, one appended document batch, a text index refresh and
  * `OPTIMIZE TEXT INDEX`. */
object Serving {
  private def tsv(path: String): Vector[Array[String]] = {
    val src = Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.split("\t")).toVector finally src.close()
  }

  def run(run: Run, in: String, seconds: Double): Unit = {
    val spark = run.spark
    val probes = tsv(s"$in/probes.tsv")
    val batches = tsv(s"$in/append.tsv").groupBy(_(0).toInt)
    val idx = s"$in/indexes"
    def setUp(rep: Int): Engine = {
      val (e, s) = run.seconds {
        val e = Engine(spark)
        e.registerTable("docs", s"$in/docs")
        e.registerTable("emb", s"$in/emb")
        run.span("index.build_text")(
          e.buildTextIndex("tix", "docs", s"$idx/$rep/tix"))
        run.span("index.build_ann")(
          e.buildAnnIndex("aix", "emb", pq = true, path = s"$idx/$rep/aix"))
        e
      }
      run.setups += s
      e
    }
    val e = (1 to 3).map(setUp).last
    val textPath = s"$idx/3/tix"
    var next = 0 // next probe
    var appended = 0 // batches appended so far

    def probe(): Unit = {
      val Array(kind, arg) = probes(next % probes.size)
      val i = next
      next += 1
      run.op(s"probe_$kind") {
        kind match {
          case "bm25" =>
            val df = run.span("probe.bm25")(
              e.bm25Search("tix", arg.split(" ").toSeq, k = 10))
            run.span("spark.collect")(df.collect())
          case _ =>
            val q = arg.split(",").map(_.toFloat)
            val df = run.span("probe.ann_call")(e.annSearch("aix", q, k = 10))
            Main.optimize(run, df)
            run.span("probe.ann_exec")(run.span("spark.collect")(df.collect()))
        }
      }.foreach { rows =>
        run.result("i" -> i, "kind" -> kind, "arg" -> arg,
          "batches" -> appended, "phase" -> run.phase,
          "rows" -> rows)
      }
    }

    def maintain(): Unit = {
      val docs = batches(appended).map { case Array(_, id, text) =>
        s"($id, '$text', 'en', 'src0', ${text.length})"
      }
      run.op("append")(e.sql(s"INSERT INTO docs VALUES ${docs.mkString(", ")}"))
      appended += 1
      run.op("refresh")(run.span("index.refresh_text")(
        e.refreshTextIndex("tix", "docs", textPath)))
    }

    // warm-up: the first 12 probes (generated as one extra round)
    run.phase = "warmup"
    (1 to 12).foreach(_ => probe())
    Main.rounds(run, seconds) { _ =>
      (1 to 12).foreach(_ => probe())
      maintain()
      run.op("optimize")(run.span("index.optimize_text")(
        e.sql("OPTIMIZE TEXT INDEX tix")))
    }
    // which plan path served each BM25 probe (the engine's probe ring)
    val paths = e.probeStats.filter("verb = 'bm25_search'")
      .select("plan_path").collect().map(_.getString(0))
    run.notes("bm25_probes") = paths.length
    run.notes("bm25_cut") = paths.count(_ == "cut")
    run.notes("appended_batches") = appended
  }
}
