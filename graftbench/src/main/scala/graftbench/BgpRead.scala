package graftbench

import graft.query.Sparql
import graft.rdf.RdfXmlParser
import graft.store.TripleStore

import java.nio.file.Path

/** bgp_read: a fixed mix of basic-graph-pattern queries over a store
  * restored from a backup built during set-up (see [[BgpRead.mix]]),
  * with constants drawn Zipf-style from the corpus. Each round runs the
  * whole mix in one order drawn from the seed; queries are parsed during
  * set-up, so the parser does no timed work. After the window the
  * restored store is checked against the generated triples, and its
  * RDF/XML export is re-parsed and checked against them too. */
final class BgpRead(run: Run) extends Workload {
  /** Corpus size: the reference's canonical bench file is about 1 MB. */
  val CorpusBytes: Long = 1L << 20
  /** Warm-up passes over the mix before timing. */
  val WarmupPasses = 2
  /** Set-up ingests and persists the corpus: ~15 s cold, too long to
    * repeat within the run budget. */
  override def setupReps: Int = 1
  private val queries = new Queries(run)
  private val corpusDir: Path = run.work.resolve("corpus")
  private val backup: Path = run.work.resolve("bgp/backup")
  private var data: Corpus.Data = _
  private var store: TripleStore = _
  private var mix: Seq[(Bgp, Sparql, Seq[String])] = Nil

  def setupData(rep: Int): Unit = {
    data = Corpus.generate(run.seed, CorpusBytes)
    Dirs.delete(corpusDir)
    Corpus.write(data, corpusDir)
    run.facts("corpus_files") = data.files.size
    run.facts("corpus_bytes") = data.bytes
    run.facts("corpus_triples") = data.triples.size
    run.facts("corpus_predicates") = data.triples.map(_.p).distinct.size
    Dirs.delete(backup)
    val st = run.span("rdf.ingest") {
      val st = TripleStore.fromRdf(run.spark, corpusDir.toString)
      st.count()
      st
    }
    run.span("store.persist")(st.persist(backup.toString))
    run.facts("stored_bytes_per_input_byte") = Dirs.bytes(backup).toDouble / data.bytes
    store = run.span("store.restore")(TripleStore.fromBackup(run.spark, backup.toString))
    val ref = new Reference(data.triples)
    mix = BgpRead.mix(new scala.util.Random(run.seed), data, ref).map { q =>
      (q, queries.parse(q), ref.answer(q))
    }
  }

  def warmup(): Unit = (1 to WarmupPasses).foreach(_ => round(0))

  /** One order for every round, so each query follows the same queries
    * in every round and the state they leave behind (generated code,
    * broadcast blocks, heap) is the same each time. */
  private lazy val order = new scala.util.Random(run.seed * 7919L).shuffle(mix.indices.toVector)

  def round(r: Int): Unit = {
    order.iterator.takeWhile(_ => run.open(r)).foreach { i =>
      val (q, parsed, want) = mix(i)
      run.timed("query", s"q$i", q.cls, r)(queries.answer(store, q, parsed))(Queries.diff(_, want))
    }
  }

  def finish(): Unit = {
    val want = Reference.canonical(data.triples)
    run.check("restored store")(Queries.diff(Reference.canonical(store.triples.collect()), want))
    val xml = run.span("rdf.export")(store.toRdfXml)
    run.check("export round trip")(
      Queries.diff(Reference.canonical(RdfXmlParser.parseString(new String(xml, "UTF-8"))), want))
  }

  def perLayer(): Map[String, Double] = rdfAndStoreLayers() ++ queryLayers() +
    ("rdf.export.triples_per_s" -> data.triples.size / Stats.median(spans("rdf.export").map(_.ms / 1e3)))

  private def parseMbPerS(): Double = {
    val xs = data.files.map(_.xml)
    val mb = data.bytes / 1e6
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      run.span("rdf.parse")(xs.foreach(RdfXmlParser.parseString))
      mb / ((System.nanoTime() - t0) / 1e9)
    })
  }

  /** Spans of one name inside the measuring window, or, for a call made
    * only during set-up, all of them. */
  private def spans(name: String): Seq[Span] = {
    val all = run.tracer.allSpans.filter(_.name == name)
    val inWindow = all.filter(_.start >= run.windowStartNs)
    if (inWindow.nonEmpty) inWindow else all
  }
  private def perCall(name: String)(f: (Span, Counts) => Double): Double =
    Stats.median(spans(name).map(s => f(s, run.tracer.countsUnder(s))))

  private def rdfAndStoreLayers(): Map[String, Double] = {
    val t = run.tracer
    def sec(name: String) = Stats.median(spans(name).map(_.ms / 1e3))
    Map(
      "rdf.parse_mb_per_s" -> parseMbPerS(),
      "rdf.ingest.jobs" -> perCall("rdf.ingest")((_, c) => c.jobs.toDouble),
      "rdf.ingest.tasks" -> perCall("rdf.ingest")((_, c) => c.tasks.toDouble),
      "rdf.ingest.executor_s" -> perCall("rdf.ingest")((_, c) => c.executorRunMs / 1e3),
      "rdf.ingest.triples_per_s" -> data.triples.size / sec("rdf.ingest"),
      "store.persist.s" -> sec("store.persist"),
      "store.persist.jobs" -> perCall("store.persist")((_, c) => c.jobs.toDouble),
      "store.persist.stages" -> perCall("store.persist")((_, c) => c.stages.toDouble),
      "store.persist.shuffle_write_bytes" -> perCall("store.persist")((_, c) => c.shuffleWriteBytes.toDouble),
      "store.persist.output_bytes" -> perCall("store.persist")((_, c) => c.outputBytes.toDouble),
      "store.persist.executor_s" -> perCall("store.persist")((_, c) => c.executorRunMs / 1e3),
      "store.persist.driver_gap_s" -> Stats.median(spans("store.persist").map(t.driverGapMs)) / 1e3,
      "store.restore.s" -> sec("store.restore"),
      "store.restore.jobs" -> perCall("store.restore")((_, c) => c.jobs.toDouble),
      "store.restore.shuffle_read_bytes" -> perCall("store.restore")((_, c) => c.shuffleReadBytes.toDouble),
      "store.restore.input_bytes" -> perCall("store.restore")((_, c) => c.inputBytes.toDouble),
      "store.restore.executor_s" -> perCall("store.restore")((_, c) => c.executorRunMs / 1e3)) ++
      backupShape()
  }

  /** Files, dictionary terms and predicate partitions of the backup set-up
    * made; the stored-bytes ratio is also a fact of every run. */
  private def backupShape(): Map[String, Double] = {
    val b = backup
    val files = Dirs.files(b).filter(_.getFileName.toString.endsWith(".parquet"))
    val parts = Dirs.files(b.resolve("triples")).map(_.getParent).distinct
      .count(_.getFileName.toString.startsWith("p_id="))
    Map(
      "store.persist.output_files" -> files.size.toDouble,
      "store.persist.dict_terms" -> run.spark.read.parquet(b.resolve("terms").toString).count().toDouble,
      "store.persist.predicate_partitions" -> parts.toDouble,
      "store.stored_bytes_per_input_byte" -> Dirs.bytes(b).toDouble / data.bytes)
  }

  private def queryLayers(): Map[String, Double] = {
    val t = run.tracer
    val roots = spans("bench.query")
    val shapes = queries.shapes.toSeq
    def shapeOf(s: Span) = shapes.find(p => p.execSpanStart >= s.start && p.execSpanStart <= s.end)
    val withShape = roots.flatMap(r => shapeOf(r).map(r -> _))
    def ms(name: String) = Stats.median(spans(name).map(_.ms))
    val base = Map(
      "query.parse_ms" -> ms("query.parse"),
      "query.compile_ms" -> ms("query.compile"),
      "query.plan_ms" -> ms("query.plan"),
      "query.exec_ms" -> ms("query.exec"),
      "query.driver_gap_ms" -> Stats.median(roots.map(t.driverGapMs)),
      "query.jobs" -> Stats.median(roots.map(r => t.countsUnder(r).jobs.toDouble)),
      "query.tasks" -> Stats.median(roots.map(r => t.countsUnder(r).tasks.toDouble)),
      "query.shuffle_bytes" -> Stats.median(roots.map(r => t.countsUnder(r).shuffleWriteBytes.toDouble)),
      "query.exchanges" -> Stats.median(shapes.map(_.exchanges.toDouble)),
      "query.broadcast_joins" -> Stats.median(shapes.map(_.broadcastJoins.toDouble)),
      "query.sort_merge_joins" -> Stats.median(shapes.map(_.sortMergeJoins.toDouble)),
      "query.input_records_per_row" -> Stats.median(withShape.map { case (r, s) =>
        t.countsUnder(r).inputRecords.toDouble / math.max(1, s.rows) }))
    base ++ Seq("point", "scan", "join", "filter").map { cls =>
      s"query.$cls.p50_ms" -> Stats.median(withShape.filter(_._2.cls == cls).map(_._1.ms))
    }
  }
}

object BgpRead {
  import Corpus.iri

  /** The query mix, one query per template: the eight access paths (S??,
    * SP?, S?O, SPO, ?PO, ?P?, ??O, ???), a 2-pattern star, a 3-pattern
    * path through a blank node, a 4-pattern star, and an `xml:lang` and
    * an `rdf:datatype` filter. Constants are keys present in the corpus,
    * and each query is redrawn until it has an answer: a query on an
    * absent key skips most of its plan, which would make latencies
    * depend on the seed. */
  def mix(rng: scala.util.Random, data: Corpus.Data, ref: Reference): Seq[Bgp] = {
    val present = data.people.filter(p => ref.triplesOf(p).nonEmpty)
    val people = new Corpus.Zipf(present.size, 0.9)
    def person() = present(people.draw(rng))
    /** A popular person who wrote at least one paper, and one paper. */
    def authorAndPaper(): (String, String) = {
      val creator = iri("dc:creator")
      Iterator.continually(person()).map { p =>
        p -> ref.triples.iterator.filter(t => t.p.value == creator && t.o.value == p).map(_.s.value).toSeq.sorted
      }.collectFirst { case (p, papers) if papers.nonEmpty => (p, papers(rng.nextInt(papers.size))) }.get
    }
    def objectsOf(p: String) = ref.triples.iterator.filter(_.p.value == iri(p)).map(_.o.value).toSet
    val keywords = data.keywords.filter(objectsOf("dc:subject"))
    val orgs = data.orgs.filter(objectsOf("swrc:affiliation"))
    val kwZ = new Corpus.Zipf(keywords.size, 1.0)
    val orgZ = new Corpus.Zipf(orgs.size, 1.0)
    val rarePreds = Seq("foaf:knows", "swc:heldBy", "owl:sameAs", "bibo:doi", "foaf:nick", "foaf:phone")
    val x = V("x"); val y = V("y")

    val templates: Seq[() => Bgp] = Seq(
      () => Bgp("point", Seq((I(person()), V("p"), V("o")))),
      () => Bgp("point", Seq((I(authorAndPaper()._2), I(iri("dc:creator")), V("o")))),
      () => { val (a, p) = authorAndPaper(); Bgp("point", Seq((I(p), V("p"), I(a)))) },
      () => { val (a, p) = authorAndPaper()
        Bgp("point", Seq((I(p), I(iri("dc:creator")), I(a)), (I(p), I(iri("dc:title")), V("t")))) },
      () => Bgp("scan", Seq((x, I(iri("dc:subject")), L(keywords(kwZ.draw(rng)))))),
      () => Bgp("scan", Seq((x, I(iri(rarePreds(rng.nextInt(rarePreds.size)))), y))),
      () => Bgp("scan", Seq((x, V("p"), I(person())))),
      () => Bgp("scan", Seq((x, V("p"), y))),
      () => Bgp("join", Seq((x, I(iri("dc:creator")), I(person())), (x, I(iri("dc:title")), V("t")))),
      () => Bgp("join", Seq((x, I(iri("swrc:affiliation")), I(orgs(orgZ.draw(rng)))),
        (x, I(iri("foaf:based_near")), V("b")), (V("b"), I(iri("geo:lat")), V("lat")))),
      () => Bgp("join", Seq((x, I(iri("dc:creator")), I(person())), (x, I(iri("swc:isPartOf")), V("proc")),
        (x, I(iri("dc:subject")), V("k")), (x, I(iri("bibo:numPages")), V("n")))),
      () => Bgp("filter", Seq((x, I(iri("dc:creator")), I(person())), (x, I(iri("dc:title")), V("t"))),
        Some(LangIs("t", "en"))),
      () => Bgp("filter", Seq((x, I(iri("swc:isPartOf")), I(data.procs(rng.nextInt(data.procs.size)))),
        (x, I(iri("bibo:numPages")), V("n"))), Some(DatatypeIs("n", Corpus.Xsd + "integer"))))
    templates.map(t => Iterator.continually(t()).take(100).find(q => ref.answer(q).nonEmpty).getOrElse(t()))
  }
}
