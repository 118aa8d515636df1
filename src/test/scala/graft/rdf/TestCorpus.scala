package graft.rdf

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** RDF/XML inputs the test suites own.
  *
  *  - The hand-written fixtures under `rdf/` on the test classpath
  *    ([[fixtureDir]]): each `<name>.rdf` has its golden triples in
  *    `<name>.nt`, computed by hand from the RDF/XML spec.
  *  - A generated corpus ([[write]]) for the tests that need volume: a
  *    tiny XML file is smaller than parquet's per-file overhead, so the
  *    "persisted store is smaller than its source" claim only means
  *    something at about a megabyte. Deterministic for a given seed.
  */
object TestCorpus {
  val FixtureFiles: Seq[String] = Seq("conf-a.rdf", "conf-b.rdf")

  def fixtureDir: String =
    new java.io.File(getClass.getResource("/rdf").toURI).getPath

  def fixture(name: String): String = s"$fixtureDir/$name"

  /** Golden triples of fixture `name` (an `.rdf` file name). Every line
    * that is not blank or a comment must parse. */
  def golden(name: String): Seq[Triple] = {
    val nt = fixture(name.stripSuffix(".rdf") + ".nt")
    val lines = Files.readAllLines(Path.of(nt), StandardCharsets.UTF_8).toArray(Array.empty[String])
    lines.toSeq.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map(l =>
      NTriples.parseLine(l).getOrElse(sys.error(s"unparseable golden line in $nt: $l")))
  }

  private val Ns = Seq(
    "rdf" -> Rdf.RdfNs,
    "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
    "foaf" -> "http://xmlns.com/foaf/0.1/",
    "dc" -> "http://purl.org/dc/elements/1.1/",
    "bibo" -> "http://purl.org/ontology/bibo/",
    "swc" -> "http://data.semanticweb.org/ns/swc/ontology#",
    "ical" -> "http://www.w3.org/2002/12/cal/ical#",
    "geo" -> "http://www.w3.org/2003/01/geo/wgs84_pos#")
  private val Xsd = "http://www.w3.org/2001/XMLSchema#"
  private val Words = Vector("graph", "query", "semantic", "linked", "data", "ontology",
    "reasoning", "web", "search", "scalable", "distributed", "storage", "index",
    "entity", "schema", "stream", "federated", "provenance", "sparql", "triple")

  /** Writes `files` conference files of `papers` papers each into `dir`
    * (about 1.4 MB at the defaults) and returns the paths, sorted. Each
    * paper has language-tagged titles, typed literals, a nested typed
    * author node, an anonymous blank venue and an `rdf:nodeID` room
    * described once per file under the same label in every file. */
  def write(dir: Path, files: Int = 6, papers: Int = 220, seed: Long = 7): Seq[Path] = {
    val rng = new scala.util.Random(seed)
    Files.createDirectories(dir)
    def words(n: Int) = Seq.fill(n)(Words(rng.nextInt(Words.size))).mkString(" ")
    (0 until files).map { f =>
      val sb = new StringBuilder("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<rdf:RDF")
      Ns.foreach { case (p, n) => sb ++= s"\n    xmlns:$p=\"$n\"" }
      sb ++= ">\n"
      val conf = s"http://data.example.org/conf/c$f"
      sb ++= s"""  <swc:ConferenceEvent rdf:about="$conf">
                |    <rdfs:label xml:lang="en">Conference $f on ${words(2)}</rdfs:label>
                |    <ical:dtstart rdf:datatype="${Xsd}date">2011-0${1 + f % 9}-1${f % 10}</ical:dtstart>
                |  </swc:ConferenceEvent>
                |  <rdf:Description rdf:nodeID="room">
                |    <rdfs:label>Room of conference $f</rdfs:label>
                |  </rdf:Description>
                |""".stripMargin
      (0 until papers).foreach { k =>
        val person = s"http://data.example.org/person/p${rng.nextInt(400)}"
        sb ++= s"""  <swc:Paper rdf:about="$conf/paper/$k">
                  |    <dc:title xml:lang="en">${words(4 + rng.nextInt(5))}</dc:title>
                  |    <dc:title xml:lang="de">Titel $k ${words(2)}</dc:title>
                  |    <bibo:abstract>${words(20 + rng.nextInt(20))}.</bibo:abstract>
                  |    <dc:creator>
                  |      <foaf:Person rdf:about="$person">
                  |        <foaf:name>Person ${person.substring(person.lastIndexOf('p') + 1)}</foaf:name>
                  |      </foaf:Person>
                  |    </dc:creator>
                  |    <bibo:numPages rdf:datatype="${Xsd}integer">${4 + rng.nextInt(12)}</bibo:numPages>
                  |    <dc:subject>${Words(rng.nextInt(Words.size))}</dc:subject>
                  |    <swc:isPartOf rdf:resource="$conf/proceedings"/>
                  |    <ical:location rdf:nodeID="room"/>
                  |    <swc:venue>
                  |      <rdf:Description>
                  |        <geo:lat rdf:datatype="${Xsd}decimal">${rng.nextInt(90)}.${rng.nextInt(1000)}</geo:lat>
                  |      </rdf:Description>
                  |    </swc:venue>
                  |  </swc:Paper>
                  |""".stripMargin
      }
      sb ++= "</rdf:RDF>\n"
      val out = dir.resolve(f"conf-$f%03d.rdf")
      Files.writeString(out, sb.toString)
      out
    }
  }
}
