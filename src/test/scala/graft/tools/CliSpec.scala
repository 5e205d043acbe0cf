package graft.tools

import graft.SparkSpec
import graft.core.PrefixMap
import graft.io.{SparqlScan, SssomEndpoint, SssomRdf, SssomTsv}
import graft.ops.{Invert, MergeReconcile, Normalize}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** The CLI is a pure shell over already-tested ops, so each test asserts
  * parity between the command's file output and the direct engine call
  * (reference CLI behavior: tests/test_cli.py drives the same commands
  * over the same fixtures).
  */
class CliSpec extends SparkSpec {

  private val dir = Files.createTempDirectory("cli").toString
  private def out(name: String): String = s"$dir/$name"
  private def cli(args: String*): Int = Cli.run(args.toArray, spark)
  private def text(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), UTF_8)

  // ---------- argument parsing ----------

  test("parseArgs: aliases, bool pairs, arity-2, fail-fast on unknowns") {
    val g = Cli.grammars("parse")
    val p = Cli.parseArgs(Seq("in.tsv", "-I", "rdf", "--no-clean-prefixes",
      "--non-embedded-mode", "-F", "skos:exactMatch", "-F", "owl:equivalentClass"), g)
    assert(p.pos == Vector("in.tsv"))
    assert(p.one("input_format").contains("rdf"))
    assert(!p.flag("clean_prefixes") && !p.flag("embedded_mode"))
    assert(p.flag("strict_clean_prefixes")) // untouched default
    assert(p.many("mapping_predicate_filter").length == 2)
    intercept[IllegalArgumentException] {
      Cli.parseArgs(Seq("-Z"), g) // unknown short option
    }
    intercept[IllegalArgumentException] {
      Cli.parseArgs(Seq("--not-an-option", "x"), g)
    }
    intercept[IllegalArgumentException] {
      Cli.parseArgs(Seq("--output"), g) // missing value
    }
    intercept[IllegalArgumentException] {
      Cli.parseArgs(Seq("-f", "only_one"), Cli.grammars("crosstab"))
    }
    // dynamic commands accept arbitrary slots
    val fp = Cli.parseArgs(Seq("in.tsv", "--subject_id", "x:%"),
      Cli.grammars("filter"))
    assert(fp.many("subject_id") == Vector("x:%"))
    assert(cli("help", "dedupe") == 0)
    intercept[IllegalArgumentException] { cli("frobnicate") }
  }

  // ---------- single-input transforms: parity with the direct op ----------

  test("dedupe == filterRedundantRows") {
    assert(cli("dedupe", fixture("basic.tsv"), "-o", out("dedupe.tsv")) == 0)
    val got = SssomTsv.read(spark, out("dedupe.tsv"))
    val want = MergeReconcile.filterRedundantRows(
      SssomTsv.read(spark, fixture("basic.tsv")).df)
    assert(got.df.count() == want.count())
    val key = (d: org.apache.spark.sql.DataFrame) => d
      .select("subject_id", "predicate_id", "object_id").collect()
      .map(_.toSeq.mkString("|")).toSet
    assert(key(got.df) == key(want))
  }

  test("convert -O rdf and -O fhir_json equal the direct writers") {
    val msdf = SssomTsv.read(spark, fixture("basic.tsv"))
    assert(cli("convert", fixture("basic.tsv"), "-O", "rdf",
      "-o", out("c.ttl")) == 0)
    assert(text(out("c.ttl")) == SssomRdf.toTurtle(msdf))
    assert(cli("convert", fixture("basic.tsv"), "-O", "fhir_json",
      "-o", out("c.fhir.json")) == 0)
    assert(text(out("c.fhir.json")) == graft.io.SssomJson.toFhirJson(msdf))
    // format from extension: .ttl → rdf
    assert(cli("convert", fixture("basic.tsv"), "-o", out("c2.ttl")) == 0)
    assert(text(out("c2.ttl")) == SssomRdf.toTurtle(msdf))
  }

  test("invert and filter match direct ops; filter rejects bad params") {
    assert(cli("invert", fixture("basic.tsv"), "--no-merge-inverted",
      "-o", out("inv.tsv")) == 0)
    val got = SssomTsv.read(spark, out("inv.tsv")).df
    val want = Invert.invertMappings(
      SssomTsv.read(spark, fixture("basic.tsv")).df, mergeInverted = false)
    assert(got.count() == want.count())

    assert(cli("filter", fixture("basic.tsv"), "--subject_id", "x:%",
      "--object_id", "y:%", "-o", out("filt.tsv")) == 0)
    val fgot = SssomTsv.read(spark, out("filt.tsv")).df
    val fwant = Normalize.likeFilter(
      SssomTsv.read(spark, fixture("basic.tsv")).df,
      Map("subject_id" -> Seq("x:%"), "object_id" -> Seq("y:%")))
    assert(fgot.count() == fwant.count() && fgot.count() > 0)
    val err = intercept[IllegalArgumentException] {
      cli("filter", fixture("basic.tsv"), "--nonexistent_col", "x:%")
    }
    assert(err.getMessage.contains("invalid"))
  }

  test("remove, merge -R true, and sort -r false behave like the engine") {
    assert(cli("remove", fixture("basic.tsv"),
      "--remove-map", fixture("basic.tsv"), "-o", out("rm.tsv")) == 0)
    // removing a set from itself leaves nothing (anti-join on the key)
    assert(SssomTsv.read(spark, out("rm.tsv")).df.count() == 0)

    assert(cli("merge", fixture("basic.tsv"), fixture("basic2.tsv"),
      "-R", "true", "-o", out("merged.tsv")) == 0)
    val want = MergeReconcile.merge(Seq(
      SssomTsv.read(spark, fixture("basic.tsv")),
      SssomTsv.read(spark, fixture("basic2.tsv"))), reconcile = true)
    assert(SssomTsv.read(spark, out("merged.tsv")).df.count() ==
      want.df.count())

    assert(cli("sort", fixture("basic.tsv"), "-o", out("sorted.tsv")) == 0)
    val cols = SssomTsv.read(spark, out("sorted.tsv")).df.columns
    assert(cols.head == "subject_id") // canonical slot order
  }

  test("annotate updates set metadata and validates slot names") {
    assert(cli("annotate", fixture("basic.tsv"),
      "--mapping_set_id", "https://example.org/new-id",
      "-o", out("ann.tsv")) == 0)
    val got = SssomTsv.read(spark, out("ann.tsv"))
    assert(got.metaMap("mapping_set_id").asString ==
      "https://example.org/new-id")
    val err = intercept[IllegalArgumentException] {
      cli("annotate", fixture("basic.tsv"), "--subject_id", "x:1")
    }
    assert(err.getMessage.contains("mapping set slots"))
  }

  test("reconcile-prefixes renames prefixes and rewires expansions") {
    val yml = out("recon.yaml")
    Files.write(Paths.get(yml),
      ("prefix_synonyms:\n  a: alpha\n" +
        "prefix_expansion_reconciliation:\n" +
        "  alpha: http://test.owl/alpha/\n").getBytes(UTF_8))
    assert(cli("reconcile-prefixes", fixture("basic3.tsv"), "-p", yml,
      "-o", out("recon.tsv")) == 0)
    val got = SssomTsv.read(spark, out("recon.tsv"))
    assert(got.prefixes.byPrefix.get("alpha")
      .contains("http://test.owl/alpha/"))
    assert(!got.df.filter(col("subject_id").startsWith("a:")).isEmpty ==
      false) // no a: CURIEs remain
    assert(got.df.filter(col("object_id").startsWith("alpha:")).count() > 0)
  }

  // ---------- multi-output commands ----------

  test("split writes one SSSOM TSV per prefix×predicate×prefix key") {
    val d = out("splits")
    assert(cli("split", fixture("basic.tsv"), "-d", d) == 0)
    val files = new java.io.File(d).listFiles().map(_.getName).toSet
    val wantKeys = graft.ops.SqlOps.splitDataframe(
      SssomTsv.read(spark, fixture("basic.tsv")).df).keySet
    assert(files == wantKeys.map(_ + ".sssom.tsv"))
    // each part re-parses and the row totals add back up
    val total = files.toSeq.map(f =>
      SssomTsv.read(spark, s"$d/$f").df.count()).sum
    assert(total == SssomTsv.read(spark, fixture("basic.tsv")).df.count())
  }

  test("partition writes one file per connected component of the last input") {
    val d = out("cliques")
    assert(cli("partition", fixture("basic.tsv"), "-d", d) == 0)
    val files = new java.io.File(d).listFiles().map(_.getName).sorted
    assert(files.forall(_.matches("clique_\\d+\\.sssom\\.tsv")))
    val counts = files.map(f => SssomTsv.read(spark, s"$d/$f").df.count())
    assert(counts.sum == SssomTsv.read(spark, fixture("basic.tsv")).df.count())
    assert(files.length > 1) // basic.tsv has several components
  }

  test("partition merges two components joined by a directed 2-cycle") {
    val in = out("two-cycle.tsv")
    Files.write(Paths.get(in),
      ("#curie_map:\n#  a: http://example.org/a/\n" +
        "#  b: http://example.org/b/\n" +
        "subject_id\tpredicate_id\tobject_id\tmapping_justification\n" +
        "a:1\tskos:exactMatch\ta:2\tsemapv:ManualMappingCuration\n" +
        "b:1\tskos:exactMatch\tb:2\tsemapv:ManualMappingCuration\n" +
        "a:1\tskos:narrowMatch\tb:1\tsemapv:ManualMappingCuration\n" +
        "b:2\tskos:narrowMatch\ta:2\tsemapv:ManualMappingCuration\n")
        .getBytes(UTF_8))
    val d = out("two-cycle-cliques")
    assert(cli("partition", in, "-d", d) == 0)
    val files = new java.io.File(d).listFiles().map(_.getName).toSeq
    assert(files == Seq("clique_1.sssom.tsv"))
    assert(SssomTsv.read(spark, s"$d/clique_1.sssom.tsv").df.count() == 4)
  }

  test("diff labels rows UNIQUE_1/UNIQUE_2/COMMON_TO_BOTH") {
    assert(cli("diff", fixture("basic.tsv"), fixture("basic2.tsv"),
      "-o", out("diff.tsv")) == 0)
    val got = SssomTsv.read(spark, out("diff.tsv"))
    val labels = got.df.select("comment").distinct().collect()
      .map(_.getString(0)).toSet
    assert(labels.subsetOf(Set("UNIQUE_1", "UNIQUE_2", "COMMON_TO_BOTH")))
    assert(labels.contains("UNIQUE_1") && labels.contains("UNIQUE_2"))
    assert(got.metaMap("comment").asString.contains("Diff between"))
  }

  // ---------- tabular reports ----------

  test("crosstab and correlations emit contingency-shaped TSVs") {
    assert(cli("crosstab", fixture("basic.tsv"), "-o", out("ct.tsv")) == 0)
    val lines = text(out("ct.tsv")).linesIterator.toVector
    assert(lines.head.split("\t").head == "subject_category")
    // single category pair in basic.tsv → one data row; count == matched rows
    val matched = Normalize.removeUnmatched(
      SssomTsv.read(spark, fixture("basic.tsv")).df).count()
    assert(lines(1).split("\t")(1).toLong == matched)

    val outBuf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outBuf)) {
      assert(cli("correlations", fixture("basic.tsv"),
        "-f", "subject_source", "object_source", "-o", out("corr.tsv")) == 0)
    }
    val corr = text(out("corr.tsv")).linesIterator.toVector
    assert(corr.head.startsWith("subject_source\t"))
    assert(outBuf.toString.trim.nonEmpty) // sorted (v, i, j) rows printed
  }

  test("cliquesummary emits per-component stats plus a describe statsfile") {
    assert(cli("cliquesummary", fixture("basic.tsv"), "-o", out("cs.tsv"),
      "-s", out("cs-stats.tsv")) == 0)
    val header = text(out("cs.tsv")).linesIterator.next().split("\t")
    assert(header.contains("num_mappings") && header.contains("members"))
    val stats = text(out("cs-stats.tsv")).linesIterator.toVector
    assert(stats.head.split("\t").toSeq.containsSlice(
      Seq("count", "mean", "stddev", "min", "max")))
    assert(stats.exists(_.startsWith("num_mappings\t")))
  }

  test("ptable prints collapse-scale probability rows") {
    assert(cli("ptable", fixture("basic.tsv"), "-o", out("pt.tsv")) == 0)
    val lines = text(out("pt.tsv")).linesIterator.toVector
    val collapsed = MergeReconcile.collapse(
      SssomTsv.read(spark, fixture("basic.tsv")).df).count()
    assert(lines.length == collapsed)
    assert(lines.forall(_.split("\t").length == 6)) // s, o, 4 probabilities
  }

  test("validate reports and returns nonzero only on violations") {
    val rc = cli("validate", fixture("basic.tsv"))
    val msdf = SssomTsv.read(spark, fixture("basic.tsv"))
    val want = graft.ops.Validators.validate(msdf)
    assert(rc == (if (want.isValid) 0 else 1))
    // -V filters to the reference enum values; unknown types fail fast
    assert(cli("validate", fixture("basic.tsv"),
      "-V", "PrefixMapCompleteness") ==
      (if (want.prefixViolations.isEmpty) 0 else 1))
    intercept[IllegalArgumentException] {
      cli("validate", fixture("basic.tsv"), "-V", "Shacl")
    }
  }

  test("dosql registers df1..dfN and filename stems") {
    assert(cli("dosql", "-Q",
      "SELECT * FROM df1 WHERE confidence > 0.8",
      fixture("basic.tsv"), "-o", out("sql.tsv")) == 0)
    val got = SssomTsv.read(spark, out("sql.tsv")).df
    val want = SssomTsv.read(spark, fixture("basic.tsv")).df
      .filter(col("confidence") > 0.8)
    assert(got.count() == want.count() && got.count() > 0)
    // stem table name: basic.tsv → basic
    assert(cli("dosql", "-Q", "SELECT count(*) AS n FROM basic",
      fixture("basic.tsv"), "-o", out("sql2.tsv")) == 0)
  }

  // ---------- parse: formats, metadata, predicate filter ----------

  test("parse obographs with external metadata writes a standard TSV") {
    val yml = out("obo-meta.yml")
    Files.write(Paths.get(yml),
      ("mapping_set_id: https://example.org/obo-set\n" +
        "curie_map:\n" +
        "  HP: http://example/obo/HP_\n" +
        "  UMLS: http://example/umls/\n" +
        "  SCT: http://example/sct/\n" +
        "  oboInOwl: http://www.geneontology.org/formats/oboInOwl#\n")
        .getBytes(UTF_8))
    assert(cli("parse", fixture("obographs-mixed.json"),
      "-I", "obographs-json", "-m", yml, "-o", out("obo.tsv")) == 0)
    val got = SssomTsv.read(spark, out("obo.tsv"))
    assert(got.df.count() == 5) // pinned in JsonXmlSpec
    // predicate filter narrows the parse (reference -F)
    assert(cli("parse", fixture("obographs-mixed.json"),
      "-I", "obographs-json", "-m", yml,
      "-F", "owl:equivalentClass", "-o", out("obo-eq.tsv")) == 0)
    val eq = SssomTsv.read(spark, out("obo-eq.tsv"))
    assert(eq.df.count() == 2)
    assert(eq.df.select("predicate_id").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("owl:equivalentClass"))
  }

  test("parse --non-embedded-mode writes the table and a side .yml") {
    assert(cli("parse", fixture("basic.tsv"), "--non-embedded-mode",
      "-o", out("bare.tsv")) == 0)
    assert(!text(out("bare.tsv")).startsWith("#")) // no embedded header
    val yml = text(out("bare.yml"))
    assert(yml.contains("mapping_set_id:") && yml.contains("curie_map:"))
    assert(SssomTsv.read(spark, out("bare.tsv")).df.count() ==
      SssomTsv.read(spark, fixture("basic.tsv")).df.count())
  }

  // ---------- rewire over a turtle ontology ----------

  test("rewire rewrites equivalent ids across a turtle ontology") {
    val onto = out("onto.ttl")
    Files.write(Paths.get(onto),
      ("@prefix x: <http://example.org/x/> .\n" +
        "@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .\n" +
        "x:a rdfs:subClassOf x:b .\n" +
        "x:b rdfs:subClassOf x:c .\n").getBytes(UTF_8))
    val mapping = out("map.tsv")
    Files.write(Paths.get(mapping),
      ("#curie_map:\n#  x: http://example.org/x/\n" +
        "#  y: http://example.org/y/\n" +
        "subject_id\tpredicate_id\tobject_id\tmapping_justification\n" +
        "x:a\towl:equivalentClass\ty:a\tsemapv:ManualMappingCuration\n" +
        "x:b\towl:equivalentClass\ty:b\tsemapv:ManualMappingCuration\n")
        .getBytes(UTF_8))
    assert(cli("rewire", onto, "-m", mapping, "-o", out("rewired.ttl")) == 0)
    val lines = text(out("rewired.ttl")).linesIterator.toSet
    assert(lines.contains("<http://example.org/y/a> " +
      "<http://www.w3.org/2000/01/rdf-schema#subClassOf> " +
      "<http://example.org/y/b> ."))
    assert(lines.contains("<http://example.org/y/b> " +
      "<http://www.w3.org/2000/01/rdf-schema#subClassOf> " +
      "<http://example.org/x/c> ."))
  }

  test("tests.sh pipeline: the reference's shell smoke chain end-to-end") {
    // mirrors /root/reference/tests/tests.sh (file variants; the URL
    // variants are the documented offline error, asserted at the end)
    val d = out("tests-sh")
    Files.createDirectories(Paths.get(d))
    val in1 = fixture("basic.tsv"); val in2 = fixture("basic2.tsv")
    val in3 = fixture("basic3.tsv")
    assert(cli("parse", in1, "--output", s"$d/parsed.tsv",
      "--input-format", "tsv", "--prefix-map-mode", "merged") == 0)
    assert(cli("split", in1, "--output-directory", d) == 0)
    Seq("tsv", "json", "owl", "rdf").foreach { fmt =>
      assert(cli("convert", in1, "--output", s"$d/converted.$fmt",
        "--output-format", fmt) == 0)
      assert(Files.size(Paths.get(s"$d/converted.$fmt")) > 0)
    }
    cli("validate", in1) // report printed; rc checked in its own test
    assert(cli("dedupe", in1, "--output", s"$d/deduped.tsv") == 0)
    assert(cli("diff", in1, in2, "-o", s"$d/diff.tsv") == 0)
    assert(cli("partition", "-d", d, in1, in2) == 0)
    assert(cli("cliquesummary", in1, "-o", s"$d/cliquesummary.tsv") == 0)
    assert(cli("crosstab", in1, "-o", s"$d/crosstab.tsv") == 0)
    assert(cli("correlations", in1, "-o", s"$d/correlations.tsv") == 0)
    assert(cli("merge", in1, in2, in3, "-o", s"$d/merged.tsv") == 0)
    // every TSV artifact re-parses
    Seq("parsed", "deduped", "diff", "merged").foreach { n =>
      assert(SssomTsv.read(spark, s"$d/$n.tsv").df.count() > 0)
    }
    val want = MergeReconcile.merge(Seq(in1, in2, in3).map(f =>
      SssomTsv.read(spark, f)))
    assert(SssomTsv.read(spark, s"$d/merged.tsv").df.count() ==
      want.df.count())
    // URL inputs raise the documented offline error (parsers.py:116-120)
    intercept[UnsupportedOperationException] {
      cli("parse", "https://example.org/basic.tsv", "-o", s"$d/url.tsv")
    }
  }

  // ---------- SPARQL: generator + evaluator round trip ----------

  private val graphTtl =
    """@prefix skos: <http://www.w3.org/2004/02/skos/core#> .
      |@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
      |@prefix HP: <http://purl.obolibrary.org/obo/HP_> .
      |@prefix MP: <http://purl.obolibrary.org/obo/MP_> .
      |HP:1 skos:exactMatch MP:1 ; rdfs:label "one" .
      |HP:2 skos:closeMatch MP:2 ; rdfs:label "two" .
      |HP:3 skos:relatedMatch MP:3 ; rdfs:label "three" .
      |MP:2 rdfs:label "two-obj" .
      |""".stripMargin

  test("SssomEndpoint evaluates SparqlScan's generated query " +
      "(GRAPH + VALUES + BIND + OPTIONAL)") {
    val g = SssomEndpoint.triplesFromTurtle(graphTtl)
    val prefixes = PrefixMap.builtIn.chain(PrefixMap(Vector(
      "HP" -> "http://purl.obolibrary.org/obo/HP_",
      "MP" -> "http://purl.obolibrary.org/obo/MP_")))
    val cfg = SparqlScan.EndpointConfig(url = "local", prefixes = prefixes,
      includeObjectLabels = true)
    val q = SparqlScan.buildQuery(cfg)
    val rows = SssomEndpoint.selectTriples(g, "file://g", q)
    // default predicates skos exact/close → HP:1 and HP:2 only
    assert(rows.length == 2)
    val bySubj = rows.map(b => b("subject_id") -> b).toMap
    val one = bySubj("http://purl.obolibrary.org/obo/HP_1")
    assert(one("subject_label") == "one" &&
      !one.contains("object_label") && // OPTIONAL unmatched → absent
      one("mapping_provider") == "file://g") // BIND(?g …) ← GRAPH ?g
    val two = bySubj("http://purl.obolibrary.org/obo/HP_2")
    assert(two("object_label") == "two-obj") // OPTIONAL matched
    // GRAPH <iri> must equal the served graph name
    val cfgNamed = cfg.copy(graph = Some("file://other"))
    assert(SssomEndpoint.selectTriples(g, "file://g",
      SparqlScan.buildQuery(cfgNamed)).isEmpty)
    // LIMIT honored
    assert(SssomEndpoint.selectTriples(g, "file://g",
      SparqlScan.buildQuery(cfg.copy(limit = Some(1L)))).length == 1)
  }

  test("cli sparql serves a local turtle graph through the full scan") {
    val ttl = out("graph.ttl")
    Files.write(Paths.get(ttl), graphTtl.getBytes(UTF_8))
    assert(cli("sparql", "-e", ttl,
      "-P", "HP", "http://purl.obolibrary.org/obo/HP_",
      "-P", "MP", "http://purl.obolibrary.org/obo/MP_",
      "-o", out("sparql.tsv")) == 0)
    val got = SssomTsv.read(spark, out("sparql.tsv"))
    val subjects = got.df.select("subject_id").collect()
      .map(_.getString(0)).toSet
    assert(subjects == Set("HP:1", "HP:2")) // compressed via safe_compress
    assert(got.df.count() == 2)
    // remote endpoints stay a documented offline error
    intercept[UnsupportedOperationException] {
      cli("sparql", "-e", "https://example.org/sparql")
    }
  }

  test("hydrated serve adds direct triples (minus Not/NoTermFound) and " +
      "serve-rdf --query prints bindings") {
    val msdf = SssomTsv.read(spark, fixture("basic3.tsv"))
    val base = SssomEndpoint.triples(msdf)
    val hyd = SssomEndpoint.triples(msdf, hydrate = true)
    val direct = graft.ops.TripleEmit.emit(msdf.df, msdf.prefixes)
      .count()
    assert(hyd.length == base.length + direct.toInt)
    // a Not-modified axiom contributes no direct triple (basic3 has one)
    assert(msdf.df.filter(col("predicate_modifier") === "Not").count() > 0)

    val outBuf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(outBuf)) {
      assert(cli("serve-rdf", fixture("basic.tsv"), "--query",
        """PREFIX owl: <http://www.w3.org/2002/07/owl#>
          |SELECT ?s ?o { [] a owl:Axiom ;
          |  owl:annotatedSource ?s ;
          |  owl:annotatedTarget ?o . } LIMIT 5""".stripMargin) == 0)
    }
    val printed = outBuf.toString.linesIterator.toVector
    assert(printed.head.split("\t").toSet == Set("s", "o"))
    assert(printed.length == 6) // header + LIMIT 5
    // the HTTP server itself stays a documented offline error
    intercept[UnsupportedOperationException] {
      cli("serve-rdf", fixture("basic.tsv"))
    }
  }
}
