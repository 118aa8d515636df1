package graftbench

import graft.rdf.{RdfTerm, Triple}

import scala.collection.mutable

/** A query position in the benchmark's own query model, rendered to
  * the engine's SPARQL text by [[Bgp.sparql]]. */
sealed trait Pos
final case class V(name: String) extends Pos
final case class I(iri: String) extends Pos
final case class L(value: String) extends Pos

sealed trait Filter
final case class LangIs(v: String, tag: String) extends Filter
final case class DatatypeIs(v: String, dt: String) extends Filter

/** One basic-graph-pattern query selecting every variable it uses (the
  * engine requires that); `cls` is its class in the read mix (point,
  * scan, join or filter). */
final case class Bgp(cls: String, patterns: Seq[(Pos, Pos, Pos)], filter: Option[Filter] = None) {
  val select: Seq[String] =
    patterns.flatMap { case (s, p, o) => Seq(s, p, o) }.collect { case V(n) => n }.distinct
  def sparql: String = {
    val body = patterns.map { case (s, p, o) => s"${Bgp.tok(s)} ${Bgp.tok(p)} ${Bgp.tok(o)}" }
    val f = filter.map {
      case LangIs(v, tag) => s"filter ( lang ( $$$v ) == $tag )"
      case DatatypeIs(v, dt) => s"filter ( datatype ( $$$v ) == <$dt> )"
    }
    s"select ${select.map("$" + _).mkString(" ")} where { ${(body ++ f).mkString(" . ")} }"
  }
}

object Bgp {
  def tok(p: Pos): String = p match {
    case V(n) => "$" + n
    case I(i) => s"<$i>"
    case L(v) => "\"" + v + "\""
  }
}

/** In-memory reference evaluator: plain Scala over the triples the
  * corpus generator wrote. It shares no code with the engine's parser,
  * store or query compiler; results are compared with blank-node labels
  * erased, because the engine labels blank nodes on its own. */
final class Reference(init: Iterable[Triple]) {
  private val all = mutable.HashSet.empty[Triple]
  private val bySubject = mutable.HashMap.empty[String, mutable.HashSet[Triple]]
  private val byObject = mutable.HashMap.empty[String, mutable.HashSet[Triple]]
  private val byPredicate = mutable.HashMap.empty[String, mutable.HashSet[Triple]]
  init.foreach(add)

  def triples: collection.Set[Triple] = all

  private def add(t: Triple): Unit = if (all.add(t)) {
    bySubject.getOrElseUpdate(t.s.value, mutable.HashSet.empty) += t
    byObject.getOrElseUpdate(t.o.value, mutable.HashSet.empty) += t
    byPredicate.getOrElseUpdate(t.p.value, mutable.HashSet.empty) += t
  }
  private def isLit(t: RdfTerm) = t.kind == RdfTerm.Raw || t.kind == RdfTerm.Lang || t.kind == RdfTerm.Typed

  /** The store's pattern-match rule: `<x>` matches the IRI x, `"x"` any
    * literal whose lexical form is x, a bound variable its exact term. */
  private def matches(pos: Pos, t: RdfTerm, b: Map[String, RdfTerm]): Boolean = pos match {
    case I(i) => t.kind == RdfTerm.Named && t.value == i
    case L(v) => isLit(t) && t.value == v
    case V(n) => b.get(n).forall(_ == t)
  }
  private def bind(pos: Pos, t: RdfTerm, b: Map[String, RdfTerm]): Map[String, RdfTerm] = pos match {
    case V(n) => b.updated(n, t)
    case _ => b
  }
  private def key(pos: Pos, b: Map[String, RdfTerm]): Option[String] = pos match {
    case I(i) => Some(i)
    case L(v) => Some(v)
    case V(n) => b.get(n).map(_.value)
  }

  private def solutions(patterns: Seq[(Pos, Pos, Pos)]): Seq[Map[String, RdfTerm]] =
    patterns.foldLeft(Seq(Map.empty[String, RdfTerm])) { (sols, pat) =>
      val (sp, pp, op) = pat
      sols.flatMap { b =>
        val cands: Iterable[Triple] = key(sp, b).map(k => bySubject.getOrElse(k, Nil))
          .orElse(key(op, b).map(k => byObject.getOrElse(k, Nil)))
          .orElse(key(pp, b).map(k => byPredicate.getOrElse(k, Nil)))
          .getOrElse(all)
        cands.iterator.filter(t => matches(sp, t.s, b) && matches(pp, t.p, b) && matches(op, t.o, b))
          .map(t => bind(op, t.o, bind(pp, t.p, bind(sp, t.s, b)))).toSeq
      }
    }

  private def keep(f: Filter, b: Map[String, RdfTerm]): Boolean = f match {
    case LangIs(v, tag) => b(v).kind == RdfTerm.Lang && b(v).lang.contains(tag)
    case DatatypeIs(v, dt) =>
      val t = b(v)
      t.kind match {
        case RdfTerm.Typed => t.datatype.contains(dt)
        case RdfTerm.Raw => dt == Reference.XsdString
        case RdfTerm.Lang => dt == Reference.RdfLangString
        case _ => false
      }
  }

  /** Distinct result rows over the selected variables, rendered with
    * blank-node labels erased and sorted. */
  def answer(q: Bgp): Seq[String] =
    solutions(q.patterns).filter(b => q.filter.forall(keep(_, b)))
      .map(b => q.select.map(b)).distinct
      .map(Reference.row).sorted

  def triplesOf(subject: String): Seq[Triple] = bySubject.getOrElse(subject, Nil).toSeq
}

object Reference {
  val XsdString = "http://www.w3.org/2001/XMLSchema#string"
  val RdfLangString = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"

  def render(t: RdfTerm): String = t.kind match {
    case RdfTerm.Blank => "_:"
    case _ => t.render
  }
  def row(ts: Seq[RdfTerm]): String = ts.map(render).mkString(" ")

  /** Triples as sorted, blank-erased lines: equal for two triple sets
    * that differ only in blank-node labels. */
  def canonical(ts: Iterable[Triple]): Seq[String] =
    ts.iterator.map(t => row(Seq(t.s, t.p, t.o))).toSeq.sorted
}
