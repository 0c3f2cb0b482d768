package graftbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.operators.NamedQuery

/** pipeline: the `SparkEntry.benchQueries` basket over a generated tier,
  * the way a batch job runs it once per snapshot in a fresh engine
  * process. Set-up is the four once-per-snapshot stages; then one
  * measured pass, the first, so class loading, codegen and JIT are part
  * of it. Each query runs under its `queryConf` in its bench
  * formulation (`benchOverrides`) and is collected to the driver rather
  * than written to a noop sink, so its rows can be checked outside the
  * engine. */
object Pipeline {
  def run(run: Run, in: String, out: String): Unit = {
    val spark = run.spark
    val tier = s"$in/tier"
    graft.functions.DuckAliases.register(spark)
    val stages = SparkEntry.benchSharedStages.values.toSeq
      .distinctBy(_._1).sortBy(_._1)
    val (_, setup) = run.seconds {
      stages.foreach { case (name, build) =>
        val (_, s) = run.seconds(run.span(s"stage.$name")(build(spark, tier)))
        run.notes(s"stage.${name.stripSuffix("_stage")}_s") = s
      }
    }
    run.setups += setup
    val basket = SparkEntry.benchQueries
    val oracle = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.render(
      basket.filter(oracle.contains).map(q => q -> oracle(q)).toMap))

    // `checked`: the rows are the query's correctness formulation (what
    // the oracle and the audit properties describe)
    def query(q: String, fn: (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame, checked: Boolean): Unit = {
      run.op("query") {
        run.span(s"op.$q") {
          NamedQuery.withConf(spark, SparkEntry.queryConf.getOrElse(q, Map.empty)) {
            val df = run.span("operators.build")(fn(spark, tier))
            Main.optimize(run, df)
            (df.columns, run.span("spark.collect")(df.collect()))
          }
        }
      }.foreach { case (cols, rows) =>
        run.result("q" -> q, "checked" -> checked, "columns" -> cols.toSeq,
          "rows" -> rows)
      }
    }

    val perQuery = basket.map(_ -> scala.collection.mutable.ArrayBuffer
      .empty[Double]).toMap
    def pass(): Unit = basket.foreach { q =>
      val bench = SparkEntry.benchOverrides.get(q)
      val (_, s) = run.seconds(query(q,
        bench.getOrElse(SparkEntry.queries(q)), bench.isEmpty))
      if (run.phase == "measure") perQuery(q) += s
    }
    // exactly one measured pass, the cold one, whatever the run length:
    // an engine fast enough to finish it early must not get a second,
    // warm pass into the figure
    Main.rounds(run, seconds = 0.0)(_ => pass())
    run.notes("query_s") = perQuery
    // the correctness formulation of the queries whose bench formulation
    // differs (q94: sketch only, its rank audit is per snapshot), untimed
    run.phase = "check"
    SparkEntry.benchOverrides.keys.filter(basket.contains).foreach(q =>
      query(q, SparkEntry.queries(q), checked = true))
  }
}
