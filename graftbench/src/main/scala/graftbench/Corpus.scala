package graftbench

import graft.rdf.{RdfTerm, Triple}

import scala.collection.mutable

/** Seeded RDF/XML corpus shaped like Semantic-Web conference metadata
  * ("dog food" files): one file per conference, with its proceedings,
  * papers, talks, chairs and the people and organisations they name.
  *
  * It covers the RDF/XML constructs the engine's parser must handle:
  * `rdf:about` / `rdf:resource`, typed node elements nested under a
  * property, `xml:lang` and `rdf:datatype` literals, blank nodes both
  * anonymous (nested) and named (`rdf:nodeID`), and the foaf, bibo, dc,
  * swc, swrc, ical, geo, owl and rdfs namespaces. About forty predicates
  * occur with skewed frequencies, and people, topics and keywords are
  * drawn Zipf-style so a few keys are popular.
  *
  * The generator records every triple it writes in [[Data.triples]], in
  * its own blank-node labels; the engine only ever sees the files. The
  * corpus holds no duplicate triple, so the ingested store is a set.
  */
object Corpus {
  val RdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val Xsd = "http://www.w3.org/2001/XMLSchema#"
  val Namespaces: Seq[(String, String)] = Seq(
    "rdf" -> RdfNs,
    "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
    "owl" -> "http://www.w3.org/2002/07/owl#",
    "foaf" -> "http://xmlns.com/foaf/0.1/",
    "dc" -> "http://purl.org/dc/elements/1.1/",
    "bibo" -> "http://purl.org/ontology/bibo/",
    "swc" -> "http://data.semanticweb.org/ns/swc/ontology#",
    "swrc" -> "http://swrc.ontoware.org/ontology#",
    "ical" -> "http://www.w3.org/2002/12/cal/ical#",
    "geo" -> "http://www.w3.org/2003/01/geo/wgs84_pos#")
  private val nsOf = Namespaces.toMap
  /** `prefix:local` → full IRI. */
  def iri(q: String): String = {
    val i = q.indexOf(':')
    nsOf(q.substring(0, i)) + q.substring(i + 1)
  }
  val Base = "http://data.example.org/"

  final case class File(name: String, xml: String)

  /** What was generated: the files, the triples they hold, and the keys
    * a workload draws query constants from, most popular first. */
  final case class Data(
      files: Vector[File],
      triples: Vector[Triple],
      people: Vector[String],
      orgs: Vector[String],
      procs: Vector[String],
      keywords: Vector[String]) {
    lazy val bytes: Long = files.map(_.xml.getBytes("UTF-8").length.toLong).sum
  }

  /** Zipf-like draw from `0 until n`: rank r has weight 1 / (r + 1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (0 until n).map(r => 1.0 / math.pow(r + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(rng: scala.util.Random): Int = {
      val u = rng.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private sealed trait Obj
  private final case class Res(iri: String) extends Obj
  private final case class Lit(v: String, lang: String = null, dt: String = null) extends Obj
  /** A node element nested under its property; `about == null` makes it
    * an anonymous blank node. */
  private final case class Nested(typ: String, about: String, props: Seq[(String, Obj)]) extends Obj
  /** Reference to a blank node described in the same file. */
  private final case class NodeRef(id: String) extends Obj

  private val words = Vector("graph", "query", "semantic", "linked", "data", "ontology",
    "reasoning", "web", "search", "scalable", "distributed", "storage", "index",
    "learning", "entity", "schema", "stream", "federated", "provenance", "trust",
    "mobile", "social", "sensor", "rule", "logic", "sparql", "triple", "store",
    "benchmark", "evaluation", "user", "interface", "matching", "alignment")
  private val given = Vector("Ada", "Alan", "Barbara", "Conrad", "Donald", "Edsger",
    "Frances", "Grace", "Hedy", "Ivan", "John", "Karen", "Leslie", "Margaret",
    "Niklaus", "Ole", "Radia", "Shafi", "Tim", "Vint")
  private val family = Vector("Hopper", "Turing", "Liskov", "Shannon", "Knuth",
    "Dijkstra", "Allen", "Lamarr", "Sutherland", "McCarthy", "Jones", "Lamport",
    "Hamilton", "Wirth", "Dahl", "Perlman", "Goldwasser", "Lee", "Cerf", "Kay")
  private val langs = Vector("de", "fr", "es", "it")

  /** Files per corpus. */
  val FileCount = 12

  def generate(seed: Long, targetBytes: Long): Data = {
    val rng = new scala.util.Random(seed)
    val nPeople = math.max(200, (targetBytes / 900).toInt)
    val nOrgs = math.max(20, nPeople / 12)
    val nTopics = 60
    val nKeywords = 150
    val people = Vector.tabulate(nPeople)(i => s"${Base}person/p$i")
    val orgs = Vector.tabulate(nOrgs)(i => s"${Base}organization/o$i")
    val topics = Vector.tabulate(nTopics)(i => s"${Base}topic/${words(i % words.size)}_$i")
    val keywords = Vector.tabulate(nKeywords)(i =>
      s"${words(i % words.size)}_${words((i * 7 + 3) % words.size)}_$i")
    val personZ = new Zipf(nPeople, 0.9)
    val orgZ = new Zipf(nOrgs, 1.0)
    val topicZ = new Zipf(nTopics, 1.1)
    val kwZ = new Zipf(nKeywords, 1.0)

    val seen = mutable.HashSet.empty[Triple]
    val all = Vector.newBuilder[Triple]
    val described = mutable.HashSet.empty[String]
    val procsAll = Vector.newBuilder[String]
    var blankSeq = 0
    val files = Vector.newBuilder[File]
    // a fixed number of files with log-normal shares of the target size,
    // so file sizes spread widely but every seed yields the same file count
    val shares = {
      val w = Vector.fill(FileCount)(math.exp(0.9 * rng.nextGaussian()))
      w.map(_ / w.sum)
    }

    def lit(o: Lit): RdfTerm =
      if (o.lang != null) RdfTerm.langLit(o.v, o.lang)
      else if (o.dt != null) RdfTerm.typedLit(o.v, o.dt)
      else RdfTerm.raw(o.v)
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")
    def title(n: Int): String =
      (0 until n).map(_ => words(rng.nextInt(words.size))).mkString(" ").capitalize
    def dateTime(day: Int, hour: Int): String =
      f"2011-${3 + day / 28}%02d-${1 + day % 28}%02dT$hour%02d:${rng.nextInt(4) * 15}%02d:00"

    shares.indices.foreach { fileNo =>
      val fileTarget = targetBytes * shares(fileNo)
      val fileBlankIds = mutable.HashMap.empty[String, String]
      val sb = new StringBuilder
      sb ++= "<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<rdf:RDF"
      Namespaces.foreach { case (p, n) => sb ++= s"\n    xmlns:$p=\"$n\"" }
      sb ++= ">\n"

      def subjTerm(about: String, nodeId: String): RdfTerm =
        if (about != null) RdfTerm.named(about)
        else RdfTerm.blank(fileBlankIds.getOrElseUpdate(nodeId, { blankSeq += 1; s"g$blankSeq" }))
      def record(t: Triple): Boolean =
        if (seen.add(t)) { all += t; true } else false

      /** Writes one node element and its properties; returns its term. */
      def node(typ: String, about: String, nodeId: String,
          props: Seq[(String, Obj)], indent: String): RdfTerm = {
        val s =
          if (about == null && nodeId == null) { blankSeq += 1; RdfTerm.blank(s"g$blankSeq") }
          else subjTerm(about, nodeId)
        val typed = typ != null && record(Triple(s, RdfTerm.named(RdfNs + "type"), RdfTerm.named(iri(typ))))
        val tag = if (typed) typ else "rdf:Description"
        sb ++= indent += '<' ++= tag
        if (about != null) sb ++= " rdf:about=\"" ++= esc(about) += '"'
        else if (nodeId != null) sb ++= " rdf:nodeID=\"" ++= nodeId += '"'
        sb ++= ">\n"
        props.foreach { case (p, o) =>
          val pt = RdfTerm.named(iri(p))
          val in = indent + "  "
          o match {
            case Res(r) =>
              if (record(Triple(s, pt, RdfTerm.named(r))))
                sb ++= in += '<' ++= p ++= " rdf:resource=\"" ++= esc(r) ++= "\"/>\n"
            case NodeRef(id) =>
              if (record(Triple(s, pt, subjTerm(null, id))))
                sb ++= in += '<' ++= p ++= " rdf:nodeID=\"" ++= id ++= "\"/>\n"
            case l: Lit =>
              if (record(Triple(s, pt, lit(l)))) {
                sb ++= in += '<' ++= p
                if (l.lang != null) sb ++= " xml:lang=\"" ++= l.lang += '"'
                if (l.dt != null) sb ++= " rdf:datatype=\"" ++= l.dt += '"'
                sb += '>' ++= esc(l.v) ++= "</" ++= p ++= ">\n"
              }
            case Nested(t, a, ps) if a == null || !seen.contains(Triple(s, pt, RdfTerm.named(a))) =>
              sb ++= in += '<' ++= p ++= ">\n"
              val o = node(t, a, null, ps, in + "  ")
              sb ++= in ++= "</" ++= p ++= ">\n"
              record(Triple(s, pt, o))
            case _: Nested => ()
          }
        }
        sb ++= indent ++= "</" ++= tag ++= ">\n"
        s
      }

      val conf = s"${Base}conference/c$fileNo"
      val proc = s"$conf/proceedings"
      val acronym = s"C${fileNo}W"
      val day0 = rng.nextInt(200)
      procsAll += proc
      node("swc:ConferenceEvent", conf, null, Seq(
        "rdfs:label" -> Lit(s"Conference $fileNo on ${title(2)}", lang = "en"),
        "rdfs:label" -> Lit(s"Konferenz $fileNo", lang = "de"),
        "swc:hasAcronym" -> Lit(acronym),
        "ical:dtstart" -> Lit(dateTime(day0, 9), dt = Xsd + "dateTime"),
        "ical:dtend" -> Lit(dateTime(day0 + 3, 17), dt = Xsd + "dateTime"),
        "foaf:homepage" -> Res(s"http://www.c$fileNo.example.org/"),
        "ical:location" -> Nested("geo:SpatialThing", null, Seq(
          "geo:lat" -> Lit(f"${rng.nextDouble() * 120 - 60}%.4f", dt = Xsd + "decimal"),
          "geo:long" -> Lit(f"${rng.nextDouble() * 300 - 150}%.4f", dt = Xsd + "decimal"),
          "rdfs:label" -> Lit(s"Venue_$fileNo")))), "  ")
      node("swrc:Proceedings", proc, null, Seq(
        "dc:title" -> Lit(s"Proceedings of $acronym", lang = "en"),
        "swrc:year" -> Lit("2011", dt = Xsd + "gYear"),
        "dc:publisher" -> Res(orgs(orgZ.draw(rng))),
        "swc:relatedToEvent" -> Res(conf)), "  ")

      val fileAuthors = mutable.LinkedHashSet.empty[String]
      // papers until three quarters of the file's share; people and
      // organisations described after them fill most of the rest
      var k = 0
      while (k < 3 || sb.length < fileTarget * 0.75) {
        val paper = s"$conf/paper/$k"
        val authors = Vector.fill(1 + rng.nextInt(4))(people(personZ.draw(rng))).distinct
        fileAuthors ++= authors
        val props = Vector.newBuilder[(String, Obj)]
        props += "dc:title" -> Lit(title(4 + rng.nextInt(6)), lang = "en")
        if (rng.nextDouble() < 0.3) props += "dc:title" -> Lit(title(5), lang = langs(rng.nextInt(langs.size)))
        props += "bibo:abstract" -> Lit((0 until 30 + rng.nextInt(60)).map(_ => words(rng.nextInt(words.size))).mkString(" ") + ".")
        authors.foreach { a =>
          // nested typed node: the person appears as a foaf:Person element
          props += "dc:creator" -> Nested("foaf:Person", a, Nil)
          props += "foaf:maker" -> Res(a)
        }
        props += "swc:isPartOf" -> Res(proc)
        props += "dc:date" -> Lit(f"2011-${1 + rng.nextInt(12)}%02d-${1 + rng.nextInt(28)}%02d", dt = Xsd + "date")
        props += "bibo:numPages" -> Lit((4 + rng.nextInt(12)).toString, dt = Xsd + "integer")
        Vector.fill(1 + rng.nextInt(3))(keywords(kwZ.draw(rng))).distinct
          .foreach(kw => props += "dc:subject" -> Lit(kw))
        Vector.fill(rng.nextInt(3))(topics(topicZ.draw(rng))).distinct
          .foreach(t => props += "swc:hasTopic" -> Res(t))
        if (rng.nextDouble() < 0.4) props += "bibo:doi" -> Lit(s"10.1000/c$fileNo.$k", dt = Xsd + "string")
        if (rng.nextDouble() < 0.2) props += "rdfs:seeAlso" -> Res(s"http://dblp.example.org/rec/c$fileNo/$k")
        if (rng.nextDouble() < 0.1) props += "owl:sameAs" -> Res(s"http://other.example.org/paper/c$fileNo-$k")
        if (rng.nextDouble() < 0.15) props += "swrc:keywords" -> Lit(s"${words(rng.nextInt(words.size))}, ${words(rng.nextInt(words.size))}")
        node("swc:Paper", paper, null, props.result(), "  ")
        // a talk event for most papers
        if (rng.nextDouble() < 0.7) {
          val talkProps = Vector.newBuilder[(String, Obj)]
          talkProps += "ical:summary" -> Lit(s"Talk $k at $acronym", lang = "en")
          talkProps += "ical:dtstart" -> Lit(dateTime(day0 + rng.nextInt(3), 9 + rng.nextInt(8)), dt = Xsd + "dateTime")
          talkProps += "swc:isSubEventOf" -> Res(conf)
          talkProps += "swc:hasRelatedDocument" -> Res(paper)
          if (rng.nextDouble() < 0.2) talkProps += "ical:url" -> Res(s"http://video.example.org/c$fileNo/$k")
          node("swc:TalkEvent", s"$conf/talk/$k", null, talkProps.result(), "  ")
        }
        k += 1
      }
      // chairs: roles held by popular people
      (0 until 1 + k / 15).foreach { r =>
        node("swc:Chair", s"$conf/chair/$r", null, Seq(
          "rdfs:label" -> Lit(s"Chair $r of $acronym", lang = "en"),
          "swc:heldBy" -> Res(people(personZ.draw(rng))),
          "swc:isRoleAt" -> Res(conf)), "  ")
      }
      // describe every person first named in this file
      fileAuthors.filter(described.add).foreach { p =>
        val i = p.substring(p.lastIndexOf('p') + 1).toInt
        val g = given(i % given.size); val f = family((i / given.size) % family.size)
        val props = Vector.newBuilder[(String, Obj)]
        props += "foaf:name" -> Lit(s"${g}_${f}_$i")
        props += "foaf:givenname" -> Lit(g)
        props += "foaf:family_name" -> Lit(f)
        props += "foaf:mbox_sha1sum" -> Lit(f"${(i.toLong * 2654435761L) & 0xffffffffL}%08x${i}%06d")
        props += "swrc:affiliation" -> Res(orgs(orgZ.draw(rng)))
        if (rng.nextDouble() < 0.5) props += "foaf:homepage" -> Res(s"http://home.example.org/~p$i")
        if (rng.nextDouble() < 0.6) {
          val loc = s"loc$i"
          props += "foaf:based_near" -> NodeRef(loc)
          node(null, null, loc, Seq(
            "geo:lat" -> Lit(f"${rng.nextDouble() * 120 - 60}%.3f", dt = Xsd + "decimal"),
            "geo:long" -> Lit(f"${rng.nextDouble() * 300 - 150}%.3f", dt = Xsd + "decimal")), "  ")
        }
        Vector.fill(rng.nextInt(4))(people(personZ.draw(rng))).filter(_ != p).distinct
          .foreach(k => props += "foaf:knows" -> Res(k))
        Vector.fill(rng.nextInt(3))(topics(topicZ.draw(rng))).distinct
          .foreach(t => props += "foaf:interest" -> Res(t))
        if (rng.nextDouble() < 0.1) props += "foaf:nick" -> Lit(s"${g.toLowerCase}$i")
        if (rng.nextDouble() < 0.05) props += "foaf:phone" -> Res(s"tel:+1-555-${1000 + i}")
        if (rng.nextDouble() < 0.3) props += "foaf:title" -> Lit(if (rng.nextBoolean()) "Dr" else "Prof")
        node("foaf:Person", p, null, props.result(), "  ")
      }
      // organisations named so far and not yet described
      orgs.filter(o => !described.contains(o) && rng.nextDouble() < 0.3).foreach { o =>
        described += o
        val j = o.substring(o.lastIndexOf('o') + 1)
        node("foaf:Organization", o, null, Seq(
          "foaf:name" -> Lit(s"Organization_$j"),
          "rdfs:label" -> Lit(s"Organisation $j", lang = "en"),
          "foaf:homepage" -> Res(s"http://org$j.example.org/")), "  ")
      }
      sb ++= "</rdf:RDF>\n"
      val xml = sb.toString
      files += File(f"conf-$fileNo%03d.rdf", xml)
    }
    Data(files.result(), all.result(), people, orgs,
      procsAll.result(), keywords)
  }

  /** Writes the files under `dir` (created if missing). */
  def write(data: Data, dir: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(dir)
    data.files.foreach(f => java.nio.file.Files.writeString(dir.resolve(f.name), f.xml))
  }
}
