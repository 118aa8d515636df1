package graftbench

import graft.query.Sparql
import graft.rdf.RdfTerm
import graft.store.TripleStore
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, SortMergeJoinExec}

import scala.collection.mutable

/** Shape of one executed query plan, read from the final adaptive plan. */
final case class PlanShape(cls: String, exchanges: Int, broadcastJoins: Int, sortMergeJoins: Int,
    rows: Int, execSpanStart: Long)

object PlanShape extends AdaptiveSparkPlanHelper {
  def of(cls: String, plan: SparkPlan, rows: Int, start: Long): PlanShape = PlanShape(cls,
    collect(plan) { case e: ShuffleExchangeLike => e }.size,
    collect(plan) { case j: BroadcastHashJoinExec => j; case j: BroadcastNestedLoopJoinExec => j }.size,
    collect(plan) { case j: SortMergeJoinExec => j }.size,
    rows, start)
}

/** Runs queries against a store the way the reference's `get` is used:
  * compile, plan, then collect every result row. */
final class Queries(run: Run) {
  /** Plan shapes of queries run under tracing. */
  val shapes = mutable.ArrayBuffer.empty[PlanShape]

  def parse(q: Bgp): Sparql = run.span("query.parse")(Sparql.parse(q.sparql))

  /** Every result row, rendered with blank-node labels erased, sorted. */
  def answer(st: TripleStore, q: Bgp, parsed: Sparql): Seq[String] = {
    val df = run.span("query.compile")(st.query(parsed))
    val qe = df.queryExecution
    run.span("query.plan")(qe.executedPlan)
    val start = run.tracer.nowNs
    val rows = run.span("query.exec")(df.collect())
    if (run.tracer.enabled) shapes += PlanShape.of(q.cls, qe.executedPlan, rows.length, start)
    rows.iterator.map(r => Reference.row(q.select.map(v => Queries.term(r.getAs[Row](v))))).toSeq.sorted
  }
}

object Queries {
  def term(r: Row): RdfTerm = RdfTerm(r.getAs[String]("kind"), r.getAs[String]("value"),
    Option(r.getAs[String]("lang")), Option(r.getAs[String]("datatype")))

  /** First difference between two sorted answers, if any. */
  def diff(got: Seq[String], want: Seq[String]): Option[String] =
    if (got == want) None
    else {
      val g = got.toSet; val w = want.toSet
      Some(s"${got.size} rows, expected ${want.size}; unexpected ${(g -- w).take(2).mkString("; ")}; " +
        s"missing ${(w -- g).take(2).mkString("; ")}")
    }
}

object Stats {
  /** NaN for no values: a metric nothing measured must not read as 0. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
