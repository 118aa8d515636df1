package graft.store

import graft.SparkSpec
import graft.rdf.{RdfTerm, Triple}
import graft.query.Sparql

class TripleStoreSpec extends SparkSpec {

  def t(s: String, p: String, o: String): Triple =
    Triple(RdfTerm.named(s), RdfTerm.named(p), RdfTerm.named(o))

  // the COOKBOOK.md:83-100 example graph shape
  lazy val graph = Seq(
    t("gabe", "is", "cool"),
    t("gabe", "loves", "Ripple"),
    t("james", "is", "cool"),
    t("james", "hates", "Ripple"),
    t("ripple", "is", "awesome"))

  lazy val store = TripleStore.fromTriples(spark, graph).cache()

  test("conjunctive BGP query (the reference's flagship example)") {
    val q = Sparql().select(Seq("$name"))
      .filter(Seq(Seq("$name", "is", "cool"), Seq("$name", "loves", "Ripple")))
    assert(store.get(q).map(_.value).sorted == Seq("gabe"))
  }

  test("string front-end parses select/where to the same query") {
    val q = Sparql.parse("select $name where { $name is cool . $name loves Ripple }")
    assert(store.get(q).map(_.value).sorted == Seq("gabe"))
  }

  test("single-pattern variable query") {
    val q = Sparql().select(Seq("$who")).filter(Seq(Seq("$who", "is", "cool")))
    assert(store.get(q).map(_.value).sorted == Seq("gabe", "james"))
  }

  test("undeclared variable in filter throws (reference panics, query.rs:54)") {
    intercept[IllegalArgumentException] {
      Sparql().select(Seq("$a")).filter(Seq(Seq("$a", "is", "$b")))
    }
  }

  test("insert then remove round-trips") {
    val added = store.insertTriple(t("zoe", "is", "cool"))
    assert(added.count() == graph.size + 1)
    // idempotent insert (set semantics, bit-set parity)
    assert(added.insertTriple(t("zoe", "is", "cool")).count() == graph.size + 1)
    val removed = added.removeTriple(t("zoe", "is", "cool"))
    assert(removed.count() == graph.size)
    // removing absent triple is a silent no-op (graph.rs:513-519)
    assert(removed.removeTriple(t("nobody", "is", "here")).count() == graph.size)
  }

  test("persist → fromBackup round-trips the triple set") {
    val dir = java.nio.file.Files.createTempDirectory("ts_persist").toString
    store.persist(dir)
    val back = TripleStore.fromBackup(spark, dir)
    assert(back.triples.collect().toSet == store.triples.collect().toSet)
    // dictionary tables are dense 0..n-1
    val ids = spark.read.parquet(s"$dir/terms").select("id")
      .collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until ids.length).toSeq)
  }

  test("persistLocation parity: remembered by persist/restore, no-arg persist reuses it") {
    val st = TripleStore.fromTriples(spark, Seq(
      Triple(RdfTerm.named("http://x/s"), RdfTerm.named("http://x/p"), RdfTerm.named("http://x/o"))))
    // never persisted → no location, no-arg persist errors (Error::NoPersistLocation)
    assert(st.persistLocation.isEmpty)
    assertThrows[IllegalStateException](st.persist())
    val dir = java.nio.file.Files.createTempDirectory("ts_loc").toString
    st.persist(dir)
    assert(st.persistLocation.contains(dir))
    st.persist() // re-persist in place succeeds
    val back = TripleStore.fromBackup(spark, dir)
    // restored graphs remember where they came from (graph.rs head.json)
    assert(back.persistLocation.contains(dir))
    // mutations derive new stores — the location survives them, like
    // the reference's in-place mutable graph (review r9 #5)
    val mutated = back
      .update("insert data { <http://x/s2> <http://x/p> <http://x/o> }")
      .removeTriple(Triple(RdfTerm.named("http://x/s2"),
        RdfTerm.named("http://x/p"), RdfTerm.named("http://x/o")))
    assert(mutated.persistLocation.contains(dir))
    mutated.persist() // no-arg persist after mutation re-persists in place
  }

  test("restore → query → mutate → in-place persist → restore returns the mutated set") {
    val dir = java.nio.file.Files.createTempDirectory("ts_roundtrip").toString
    TripleStore.fromTriples(spark, graph).persist(dir)
    val back = TripleStore.fromBackup(spark, dir)
    val cool = Sparql.parse("select $who where { $who is cool }")
    assert(back.get(cool).map(_.value).sorted == Seq("gabe", "james"))
    val mutated = back
      .insertTriple(t("zoe", "is", "cool"))
      .removeTriple(t("gabe", "loves", "Ripple"))
      .update("delete where { $x hates Ripple }")
    assert(mutated.get(cool).map(_.value).sorted == Seq("gabe", "james", "zoe"))
    mutated.persist() // in place: overwrites the backup `back` was restored from
    val want = graph.toSet + t("zoe", "is", "cool") -
      t("gabe", "loves", "Ripple") - t("james", "hates", "Ripple")
    assert(mutated.triples.collect().toSet == want) // readable after the overwrite
    val again = TripleStore.fromBackup(spark, dir)
    assert(again.triples.collect().toSeq.sortBy(_.toString) == want.toSeq.sortBy(_.toString))
    assert(again.get(cool).map(_.value).sorted == Seq("gabe", "james", "zoe"))
    again.unpersist(); mutated.unpersist()
  }

  test("unpersist releases the restore's cache, also after an in-place persist") {
    import org.apache.spark.storage.StorageLevel
    val dir = java.nio.file.Files.createTempDirectory("ts_unpersist").toString
    TripleStore.fromTriples(spark, graph).persist(dir)
    val back = TripleStore.fromBackup(spark, dir)
    val decoded = back.triples
    assert(decoded.storageLevel == StorageLevel.MEMORY_AND_DISK)
    back.unpersist()
    assert(decoded.storageLevel == StorageLevel.NONE)
    assert(back.count() == graph.size) // still readable: decodes from parquet again
    // an in-place persist swaps the store's triples for a checkpoint;
    // unpersist must still find and release the restore's cache
    val again = TripleStore.fromBackup(spark, dir)
    val decoded2 = again.triples
    assert(decoded2.storageLevel == StorageLevel.MEMORY_AND_DISK)
    again.persist()
    assert(!(again.triples eq decoded2))
    again.unpersist()
    assert(decoded2.storageLevel == StorageLevel.NONE)
    assert(again.count() == graph.size)
    // a store derived from a restore releases the cache it reads from
    val third = TripleStore.fromBackup(spark, dir)
    val mutated = third.insertTriple(t("zoe", "is", "cool"))
    mutated.persist()
    mutated.unpersist()
    assert(third.triples.storageLevel == StorageLevel.NONE)
  }

  test("fromBackup validates the layout before reading (graph.rs:167-184)") {
    val missing = java.nio.file.Files.createTempDirectory("ts_bad").toString
    assertThrows[IllegalArgumentException]( // empty dir: no parts, no marker
      TripleStore.fromBackup(spark, s"$missing/sub"))
    assertThrows[IllegalArgumentException](
      TripleStore.fromBackup(spark, missing))
    val dir = java.nio.file.Files.createTempDirectory("ts_marker").toString
    store.persist(dir)
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, TripleStore.BackupMarker))
    // marker-less but otherwise valid layout = a pre-marker backup;
    // restore succeeds (with a warning) instead of stranding old data
    val back = TripleStore.fromBackup(spark, dir)
    assert(back.triples.collect().toSet == store.triples.collect().toSet)
  }

  test("iter + toRdfXml export round-trip") {
    val xml = new String(store.toRdfXml, "UTF-8")
    val back = graft.rdf.RdfXmlParser.parseString(xml)
    assert(back.toSet == graph.toSet)
  }

  test("fromRdf distributes per file and prefixes blank nodes") {
    import graft.rdf.TestCorpus
    val st = TripleStore.fromRdf(spark, TestCorpus.fixtureDir)
    // files are indexed in sorted order; each file's blank labels get
    // its f<idx>_ prefix, so conf-a's and conf-b's "place" and "genid1"
    // stay four different nodes
    def prefixed(idx: Int)(t: RdfTerm) =
      if (t.kind == RdfTerm.Blank) RdfTerm.blank(s"f${idx}_${t.value}") else t
    val want = TestCorpus.FixtureFiles.zipWithIndex.flatMap { case (f, i) =>
      TestCorpus.golden(f).map(tr => Triple(prefixed(i)(tr.s), tr.p, prefixed(i)(tr.o)))
    }
    val got = st.triples.collect().toSeq
    assert(got.sortBy(_.toString) == want.sortBy(_.toString))
    val blanks = got.flatMap(tr => Seq(tr.s, tr.o)).filter(_.kind == RdfTerm.Blank).map(_.value).toSet
    assert(blanks == Set("f0_place", "f0_genid1", "f1_place", "f1_genid1"))
  }

  test("fromRdf reads through the Hadoop FileSystem API (file:// URI, dir and single file)") {
    // A cluster deployment hands fromRdf an HDFS/S3A URI; the listing and
    // the reads must go through Hadoop, not java.io.File. file:// is the
    // scheme-qualified stand-in available in a local JVM.
    import graft.rdf.TestCorpus
    val file = TestCorpus.fixture("conf-a.rdf")
    val one = TripleStore.fromRdf(spark, s"file://$file")
    assert(one.count() == TestCorpus.golden("conf-a.rdf").size)
    assert(one.count() == TripleStore.fromRdf(spark, file).count())
    val dir = TripleStore.fromRdf(spark, s"file://${TestCorpus.fixtureDir}")
    assert(dir.count() == TripleStore.fromRdf(spark, TestCorpus.fixtureDir).count())
    assert(dir.count() == TestCorpus.FixtureFiles.map(TestCorpus.golden(_).size).sum)
    // Turtle shares the same listing helper
    val tmp = java.nio.file.Files.createTempDirectory("ttl_uri").toString
    java.nio.file.Files.writeString(java.nio.file.Path.of(tmp, "a.ttl"),
      "<http://x/s> <http://x/p> <http://x/o> .")
    assert(graft.rdf.Turtle.read(spark, s"file://$tmp").count() == 1)
    // missing paths fail fast with a clear error, not an empty scan
    assertThrows[java.io.FileNotFoundException](
      TripleStore.fromRdf(spark, s"file://$tmp/nonexistent-graft-dir"))
  }

  test("generated corpus persists smaller than its RDF/XML source (parquet replaces K2Tree compression)") {
    val src = java.nio.file.Files.createTempDirectory("corpus_src")
    graft.rdf.TestCorpus.write(src)
    val st = TripleStore.fromRdf(spark, src.toString)
    val dir = java.nio.file.Files.createTempDirectory("corpus_persist").toString
    st.persist(dir)
    def duBytes(p: java.io.File): Long =
      if (p.isFile) p.length
      else Option(p.listFiles).map(_.map(duBytes).sum).getOrElse(0L)
    val parquetBytes = duBytes(new java.io.File(dir))
    val xmlBytes = duBytes(src.toFile)
    info(f"corpus: xml=${xmlBytes / 1e6}%.1f MB → persisted=${parquetBytes / 1e6}%.1f MB " +
      f"(${100.0 * parquetBytes / xmlBytes}%.0f%%)")
    assert(xmlBytes > 1000000L, s"generated corpus is only $xmlBytes bytes")
    assert(parquetBytes < xmlBytes)
    // restore equals original
    val back = TripleStore.fromBackup(spark, dir)
    assert(back.count() == st.count())
    back.unpersist()
  }

  test("sparql update: insert/delete data, delete where, insert…where") {
    def t(s: String, p: String, o: String) =
      Triple(RdfTerm.named(s), RdfTerm.named(p), RdfTerm.named(o))
    val st = TripleStore.fromTriples(spark, Seq(
      t("alice", "knows", "bob"), t("bob", "knows", "carol"),
      t("alice", "in", "g1"), t("bob", "in", "g1")))
    // a subject that merely BEGINS with "graph" is a plain triple, not
    // the GRAPH quad form (review r9 #2)
    val gr = st.update("insert data { graphite mined_in g1 }")
    assert(gr.count() == st.count() + 1)
    // insert data: duplicate is a set-semantics no-op
    val ins = st.update("insert data { dave knows alice . alice knows bob }")
    assert(ins.count() == 5)
    // literal-typed term in a data block keeps its kind
    val lit = ins.update("""insert data { alice name "Alice" }""")
    assert(lit.triples.collect().exists(tr =>
      tr.o == RdfTerm.raw("Alice") && tr.p == RdfTerm.named("name")))
    // a quoted literal containing '}' must not truncate the block
    // (round-8 advice #3: the close scan is quote-aware)
    val brace = ins.update("""insert data { alice name "a}b" }""")
    assert(brace.triples.collect().exists(_.o == RdfTerm.raw("a}b")))
    assertThrows[IllegalArgumentException](
      ins.update("""insert data { alice name "unterminated }"""))
    // delete data removes exactly the listed triple
    val del = lit.update("delete data { alice knows bob }")
    assert(del.count() == 5)
    assert(!del.triples.collect().exists(tr => tr.s.value == "alice" && tr.o.value == "bob"))
    // delete where, multi-pattern: both instantiations vanish per solution
    val dw = del.update("delete where { $x knows $y . $x in $g }")
    // bob knows carol ∧ bob in g1 → both bob-triples gone; alice's `in`
    // survives (alice no longer knows anyone)
    val left = dw.triples.collect().toSet
    assert(!left.exists(_.s.value == "bob"))
    assert(left.exists(tr => tr.s.value == "alice" && tr.p.value == "in"))
    // insert…where derives new edges from current solutions
    val iw = dw.update("insert { $g holds $m } where { $m in $g }")
    assert(iw.triples.collect().exists(tr =>
      tr.s.value == "g1" && tr.p.value == "holds" && tr.o.value == "alice"))
    // fail-fasts: variables in a data block, template var unbound, junk
    assertThrows[IllegalArgumentException](st.update("insert data { $x p o }"))
    assertThrows[IllegalArgumentException](
      st.update("insert { $x p $zzz } where { $x p o }"))
    assertThrows[IllegalArgumentException](st.update("upsert data { a b c }"))
  }

  test("delete where removes what the pattern MATCHED, across term kinds") {
    // a bare pattern value matches any kind by lexical value — the
    // delete must hit the matched literal triple, not a Named coercion
    // of its lexical form (round-8 review finding #1)
    val st = TripleStore.fromTriples(spark, Seq(
      Triple(RdfTerm.named("c1"), RdfTerm.named("in_segment"), RdfTerm.raw("BUILDING")),
      Triple(RdfTerm.named("c1"), RdfTerm.named("in_nation"), RdfTerm.named("N2")),
      Triple(RdfTerm.named("c2"), RdfTerm.named("in_segment"), RdfTerm.named("BUILDING"))))
    // concrete single-pattern: both kinds of BUILDING objects vanish
    val d1 = st.update("delete where { $c in_segment BUILDING }")
    assert(d1.triples.collect().map(_.p.value).toSeq == Seq("in_nation"))
    // multi-pattern with a variable: the literal triple matched via
    // the join must be deleted too (pre-fix it silently survived)
    val d2 = st.update("delete where { $c in_segment BUILDING . $c in_nation N2 }")
    val left = d2.triples.collect()
    assert(!left.exists(_.s.value == "c1"), left.mkString(", "))
    assert(left.exists(_.s.value == "c2")) // c2 has no in_nation → kept
    // kind-tagged concrete value restricts the delete to that kind
    val d3 = st.update("""delete where { $c in_segment "BUILDING" }""")
    assert(d3.triples.collect().map(_.o.kind).toSet == Set("named"))
  }

  test("ground delete-where is conjunctive; path predicates fail fast") {
    def t(s: String, p: String, o: String) =
      Triple(RdfTerm.named(s), RdfTerm.named(p), RdfTerm.named(o))
    val st = TripleStore.fromTriples(spark, Seq(t("a", "b", "c"), t("x", "y", "z")))
    // the WHERE is one BGP: an unmatched pattern means no solution,
    // so NOTHING is deleted — not per-pattern independent deletes
    assert(st.update("delete where { a b c . d e f }").count() == 2)
    // all patterns matched → each pattern's matches are deleted
    assert(st.update("delete where { a b c . x y z }").count() == 0)
    // a path-operator predicate would silently match nothing in the
    // delete — fail fast instead
    assertThrows[IllegalArgumentException](
      st.update("delete where { $v b+ $w }"))
    assertThrows[IllegalArgumentException](
      st.update("delete where { $v b/c $w }"))
  }

  test("typed/lang literals survive store round-trip") {
    val lits = Seq(
      Triple(RdfTerm.named("s1"), RdfTerm.named("p"), RdfTerm.langLit("hi", "en")),
      Triple(RdfTerm.named("s2"), RdfTerm.named("p"), RdfTerm.typedLit("5", "xsd:int")),
      Triple(RdfTerm.named("s3"), RdfTerm.named("p"), RdfTerm.raw("plain")),
      Triple(RdfTerm.blank("b0"), RdfTerm.named("p"), RdfTerm.named("o")))
    val st = TripleStore.fromTriples(spark, lits)
    val dir = java.nio.file.Files.createTempDirectory("ts_lit").toString
    st.persist(dir)
    assert(TripleStore.fromBackup(spark, dir).triples.collect().toSet == lits.toSet)
  }
}
