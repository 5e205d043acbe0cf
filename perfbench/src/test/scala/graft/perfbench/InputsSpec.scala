package graft.perfbench

import graft.Bench
import graft.kg.Synthetic
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class InputsSpec extends AnyFunSuite {

  test("the same seed gives identical SSSOM TSV bytes; another seed changes them") {
    val a = SssomGen.tsv(7L, "a", 300)
    assert(a.getBytes("UTF-8").sameElements(SssomGen.tsv(7L, "a", 300).getBytes("UTF-8")))
    assert(a != SssomGen.tsv(8L, "a", 300))
    assert(a != SssomGen.tsv(7L, "b", 300))
    assert(SssomGen.dataRows(a) >= 300)
  }

  test("generated sets carry mixed predicates, Not modifiers and empty confidences") {
    val rows = SssomGen.tsv(3L, "a", 2000).linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).drop(1).map(_.split("\t", -1)).toSeq
    assert(SssomGen.Predicates.forall(p => rows.exists(_(2) == p)))
    val not = rows.count(_(3) == "Not").toDouble / rows.size
    val empty = rows.count(_(7) == "").toDouble / rows.size
    assert(not > 0.01 && not < 0.03, s"Not share $not")
    assert(empty > 0.03 && empty < 0.07, s"empty confidence share $empty")
    // several rows per (subject, object) pair
    assert(rows.groupBy(r => (r(0), r(4))).exists(_._2.size > 1))
  }

  test("the same seed gives identical transcript rows; another seed changes them") {
    val spark = SparkSession.builder().master("local[1]").appName("inputs-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      def rows(seed: Long) = Synthetic.transcripts(spark, 20L, 8, 2000L, seed)
        .collect().map(_.toSeq).toSeq
      assert(rows(5L) == rows(5L))
      assert(rows(5L) != rows(6L))
    } finally spark.stop()
  }

  test("the query family map covers every headline query exactly once") {
    assert(Bench.headline.size == 108)
    assert(Bench.headline.distinct.size == 108)
    Bench.headline.foreach(q => assert(Families.matching(q).size == 1, q))
    assert(Bench.headline.map(Families.family).toSet == Families.Names.toSet)
    assert(QuerySuite.Queries.forall(Bench.headline.contains))
  }
}
