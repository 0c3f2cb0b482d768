package graftbench

import scala.io.Source

import graft.Engine

/** sql_read and sql_write: statement streams through `Engine.sql`. */
object SqlWorkloads {
  /** One generated statement: round (or write cycle), class or kind,
    * SQL text, position in its round. */
  final case class Stmt(round: Int, kind: String, sql: String, pos: Int)

  def load(path: String): Vector[Vector[Stmt]] = {
    val src = Source.fromFile(path, "UTF-8")
    val rows = try src.getLines().map(_.split("\t", 3)).toVector
      finally src.close()
    rows.groupBy(_(0).toInt).toVector.sortBy(_._1).map { case (r, xs) =>
      xs.zipWithIndex.map { case (x, i) => Stmt(r, x(1), x(2), i) }
    }
  }

  private val RefTables = Seq("t1k", "t200k", "t500k")

  /** Untimed warm-up before the measured rounds. The JIT keeps speeding
    * a fresh engine process up for a long while: sql_read rounds took
    * 1.95, 1.77, 1.54 ... s and settled near 1.15 s after about 15 s;
    * sql_write cycles went from 3.4 s to about 2.2 s over their first
    * 30 s. Measured rounds taken early on that slope measure how far the
    * JIT has got. 12 s is what the benchmark's time budget allows. */
  private val WarmUpS = 12.0

  /** Fresh engine with `tables` registered from their files; the
    * introspection read makes the footer row counts resolve now. */
  private def setUp(run: Run, tables: Seq[(String, String)]): Engine = {
    val (e, s) = run.seconds {
      val e = Engine(run.spark)
      tables.foreach { case (n, p) => e.registerTable(n, p) }
      e.tables.collect()
      e
    }
    run.setups += s
    e
  }

  private def readOp(run: Run, e: Engine, st: Stmt): Unit = {
    val t0 = System.nanoTime()
    run.op(st.kind) {
      run.attr("pos", st.pos)
      def body(): Array[org.apache.spark.sql.Row] = {
        val df = run.span("frontend.sql")(e.sql(st.sql))
        if (run.traced) run.span("frontend.explain")(e.explain(st.sql).collect())
        Main.optimize(run, df)
        run.span("spark.collect")(df.collect())
      }
      st.kind match {
        case "as_of" => run.span("versioning.as_of")(body())
        case "changes" => run.span("versioning.changes")(body())
        case _ => body()
      }
    }.foreach { rows =>
      run.result("round" -> st.round, "pos" -> st.pos, "kind" -> st.kind,
        "phase" -> run.phase, "ms" -> (System.nanoTime() - t0) / 1e6,
        "sql" -> st.sql, "rows" -> rows)
    }
  }

  def read(run: Run, in: String, seconds: Double): Unit = {
    val rounds = load(s"$in/statements.tsv")
    val tables = RefTables.map(t => t -> s"$in/$t") ++
      Seq("lineitem", "orders", "customer").map(t => t -> s"$in/tpch/$t.parquet")
    val e = (1 to 5).map(_ => setUp(run, tables)).last
    Main.rounds(run, seconds, WarmUpS) { r =>
      rounds(r % rounds.size).foreach(readOp(run, e, _))
    }
  }

  private val Target = """(?i)(?:UPDATE|INTO|FROM)\s+(\w+)""".r.unanchored

  def write(run: Run, in: String, seconds: Double): Unit = {
    val cycles = load(s"$in/statements.tsv")
    val tables = RefTables.map(t => t -> s"$in/$t")
    val e = (1 to 5).map(_ => setUp(run, tables)).last
    def cycle(stmts: Vector[Stmt]): Unit = {
      // each cycle starts from the files again: the copy-on-write
      // lineage of the previous cycle is dropped with the history
      run.span("client.reregister") {
        tables.foreach { case (n, p) => e.unregisterTable(n); e.registerTable(n, p) }
      }
      stmts.foreach { st =>
        st.kind match {
          case "read" | "as_of" | "changes" => readOp(run, e, st)
          case kind =>
            val t0 = System.nanoTime()
            val Target(table) = st.sql: @unchecked
            run.op(kind)(run.span(s"dml.$kind")(e.sql(st.sql))).foreach { _ =>
              run.result("round" -> st.round, "pos" -> st.pos, "kind" -> kind,
                "phase" -> run.phase, "ms" -> (System.nanoTime() - t0) / 1e6,
                "sql" -> st.sql, "table" -> table,
                "version" -> e.currentVersion(table))
            }
        }
      }
    }
    Main.rounds(run, seconds, WarmUpS)(r => cycle(cycles(r % cycles.size)))
  }
}
