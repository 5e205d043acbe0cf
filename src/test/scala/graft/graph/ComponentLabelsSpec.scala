package graft.graph

import graft.SparkSpec
import graft.core.Schema._
import graft.io.SssomTsv
import org.apache.spark.sql.DataFrame

/** Directed component labels (the SCC stand-in behind `assignComponents`):
  * the driver arm and the distributed arm (`localCutoff = 0`) must give
  * identical (node, comp) sets, merge components joined by a directed
  * 2-cycle, and the distributed condensation loop must throw past its
  * round cap rather than return under-merged labels.
  */
class ComponentLabelsSpec extends SparkSpec {
  import spark.implicits._

  private def mappings(rows: Seq[(String, String, String)]): DataFrame =
    rows.toDF(SubjectId, PredicateId, ObjectId)

  private def labelsOf(d: DataFrame): Set[(String, String)] =
    d.collect().map(r => (r.getString(0), r.getString(1))).toSet

  private def bothArms(df: DataFrame): (Set[(String, String)], Set[(String, String)]) =
    (labelsOf(Components.componentLabels(df)),
      labelsOf(Components.componentLabels(df, localCutoff = 0)))

  // two exactMatch components joined only by a directed 2-cycle
  private val repro = mappings(Seq(
    ("a:1", SkosExactMatch, "a:2"),
    ("b:1", SkosExactMatch, "b:2"),
    ("a:1", SkosNarrowMatch, "b:1"),
    ("b:2", SkosNarrowMatch, "a:2")))

  /** `n` exactMatch pairs K0..K(n-1) plus narrowMatch edges K(i-2)→K(i)
    * and K(i)→K(i-1), seeded by K0→K1: round i of the condensation can
    * merge K(i) only once rounds 1..i-1 have merged K0..K(i-1).
    */
  private def chain(n: Int): DataFrame = {
    def x(i: Int) = f"x:$i%02d"
    def y(i: Int) = f"y:$i%02d"
    val pairs = (0 until n).map(i => (x(i), SkosExactMatch, y(i)))
    val back = (1 until n).map(i => (y(i), SkosNarrowMatch, x(i - 1)))
    val skip = (2 until n).map(i => (y(i - 2), SkosNarrowMatch, x(i)))
    mappings(pairs ++ back ++ skip :+ ((y(0), SkosNarrowMatch, x(1))))
  }

  test("a directed 2-cycle merges two components on both arms") {
    val want = Set("a:1", "a:2", "b:1", "b:2").map(_ -> "a:1")
    val (local, dist) = bothArms(repro)
    assert(local == want)
    assert(dist == want)
  }

  test("condensation past the round cap throws on the distributed arm only") {
    val long = chain(12)
    val e = intercept[IllegalStateException](
      Components.componentLabels(long, localCutoff = 0).collect())
    assert(e.getMessage.contains("componentLabels"))
    assert(e.getMessage.contains(s"${Components.CondensationRounds} rounds"))
    val local = labelsOf(Components.componentLabels(long))
    assert(local.size == 24)
    assert(local.map(_._2) == Set("x:00"))

    val (l5, d5) = bothArms(chain(5))
    assert(l5 == d5)
    assert(l5.map(_._2) == Set("x:00"))
  }

  test("arms agree on basic.tsv, the repro, a chain and a mixed generated set") {
    val basic = SssomTsv.read(spark, fixture("basic.tsv")).df
    // mixed predicates, including one outside the three edge classes, Not
    // modifiers, empty confidences, supplementary-plane ids and one row
    // without an object id
    val preds = Seq(SkosExactMatch, SkosCloseMatch, SkosBroadMatch,
      SkosNarrowMatch, RdfsSubclassOf, OwlEquivalentClass, "skos:relatedMatch")
    val ids = Seq("p:a", "p:b", "p:\uFF21", "p:\uD835\uDD18", "q:\uD83D\uDE00",
      "q:z", "q:\uFF5A", "r:1", "r:2", "r:\uD840\uDC00")
    val r = new java.util.Random(7)
    val mixed = ((0 until 60).map { _ =>
      (ids(r.nextInt(ids.size)), preds(r.nextInt(preds.size)),
        if (r.nextInt(10) == 0) "Not" else null,
        ids(r.nextInt(ids.size)),
        if (r.nextInt(4) == 0) null else java.lang.Double.valueOf(r.nextInt(100) / 100.0))
    } :+ (("r:1", SkosExactMatch, null, null, null)))
      .toDF(SubjectId, PredicateId, PredicateModifier, ObjectId, Confidence)
    for ((name, df) <- Seq("basic.tsv" -> basic, "repro" -> repro,
        "chain(5)" -> chain(5), "mixed" -> mixed)) {
      val (local, dist) = bothArms(df)
      assert(local == dist, name)
      val nodes = df.select(SubjectId).collect().map(_.getString(0)).toSet ++
        df.select(ObjectId).collect().map(_.getString(0))
      assert(local.map(_._1) == nodes, name)
    }
  }

  test("labels are the UTF-8 code-point minimum, not the UTF-16 one") {
    // U+FF21 sorts below U+1D518 by code point, above it by UTF-16 unit
    val df = mappings(Seq(
      ("p:\uD835\uDD18", SkosExactMatch, "p:\uFF21"),
      ("p:\uFF21", SkosNarrowMatch, "q:1"),
      ("q:1", SkosNarrowMatch, "p:\uD835\uDD18")))
    val want = Set("p:\uD835\uDD18", "p:\uFF21", "q:1").map(_ -> "p:\uFF21")
    val (local, dist) = bothArms(df)
    assert(local == want)
    assert(dist == want)
  }

  test("connectedComponents arms agree on long and string ids") {
    val longs = Seq((5L, 3L), (3L, 9L), (7L, 8L), (1L, 1L)).toDF("src", "dst")
    val strs = Seq(("q:\uD835\uDD18", "q:\uFF21"), ("b", "a"), ("c", "b"))
      .toDF("src", "dst")
    for (edges <- Seq(longs, strs)) {
      val local = Components.connectedComponents(edges).collect().toSet
      val dist = Components.connectedComponents(edges, localCutoff = 0)
        .collect().toSet
      assert(local == dist)
    }
    assert(Components.connectedComponents(longs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 1L, 3L -> 3L, 5L -> 3L, 7L -> 7L, 8L -> 7L, 9L -> 3L))
  }
}
