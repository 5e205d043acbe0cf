package graft.kg

import graft.SparkSpec
import graft.core.Schema
import graft.text.TextHash
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Both fuzzy linkers block, dedup and verify each distinct mention
  * surface once, then attach the verified links to the occurrences. The
  * occurrence-level formulations below — blocking, candidate dedup and
  * verification per (conv_id, turn_idx, mention) row — are the reference:
  * the verification reads only the (mention, surface) strings, so the two
  * must agree row for row, as multisets.
  */
class LinkerEqualitySpec extends SparkSpec {
  import spark.implicits._

  private val jac = udf((a: String, b: String) => TextHash.charTrigramJaccard(a, b))

  private def fuzzyOccurrences(mentions: DataFrame): DataFrame =
    mentions.filter(col("mention").contains(" ") && length(col("mention")) >= 7)

  private def dictSurf(dictionary: DataFrame): DataFrame =
    dictionary.select(col("concept_id"), Linker.normalize(col("label")).as("surface"))

  private def verify(candidates: DataFrame, dictionary: DataFrame): DataFrame =
    candidates.select("conv_id", "turn_idx", "mention", "concept_id")
      .dropDuplicates("conv_id", "turn_idx", "mention", "concept_id")
      .join(dictSurf(dictionary), Seq("concept_id"))
      .withColumn("jaccard", jac(col("mention"), col("surface")))
      .filter(col("jaccard") >= 0.55 && col("mention") =!= col("surface"))
      .select(col("conv_id"), col("turn_idx"), col("mention"),
        col("concept_id"),
        lit(Schema.SkosCloseMatch).as("predicate_id"),
        (col("jaccard") * 0.9).as("confidence"))

  private def refMinHash(mentions: DataFrame, dictionary: DataFrame): DataFrame = {
    val bands = 4
    val dictBands = dictSurf(dictionary)
      .withColumn("sigs", Linker.bandSignatures(col("surface"), bands))
      .select(col("concept_id"), posexplode(col("sigs")).as(Seq("band", "sig")))
    val mentionBands = fuzzyOccurrences(mentions)
      .withColumn("sigs", Linker.bandSignatures(col("mention"), bands))
      .select(col("conv_id"), col("turn_idx"), col("mention"),
        posexplode(col("sigs")).as(Seq("band", "sig")))
    verify(mentionBands.join(dictBands, Seq("band", "sig")), dictionary)
  }

  private def refTfidf(mentions: DataFrame, dictionary: DataFrame): DataFrame = {
    val dictToks = dictSurf(dictionary)
      .select(col("concept_id"), col("surface"),
        explode(array_distinct(split(col("surface"), " "))).as("tok"))
      .filter(length(col("tok")) > 0)
    val df = dictToks.groupBy("tok").agg(count(lit(1)).as("df"))
    val blocks = dictToks.join(df, "tok")
      .groupBy("concept_id", "surface")
      .agg(min(struct(col("df"), col("tok"))).as("m"))
      .select(col("concept_id"), col("m.tok").as("block"))
    val mentionToks = fuzzyOccurrences(mentions)
      .select(col("conv_id"), col("turn_idx"), col("mention"),
        explode(array_distinct(split(col("mention"), " "))).as("block"))
    verify(mentionToks.join(blocks, Seq("block")), dictionary)
  }

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.select("conv_id", "turn_idx", "mention", "concept_id", "predicate_id",
        "confidence")
      .collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** Asserts both linkers equal their references; returns the row counts. */
  private def assertEqual(mentions: DataFrame, dictionary: DataFrame,
      what: String): (Int, Int) = {
    val mh = multiset(Linker.linkFuzzy(mentions, dictionary))
    assert(mh == multiset(refMinHash(mentions, dictionary)), s"linkFuzzy: $what")
    val tf = multiset(Linker.linkFuzzyTfidf(mentions, dictionary))
    assert(tf == multiset(refTfidf(mentions, dictionary)), s"linkFuzzyTfidf: $what")
    (mh.values.sum, tf.values.sum)
  }

  private val dict = Seq(
    ("C:1", "protein kinase alpha", "pk alpha"),
    ("C:2", "protein kinase alphas", "pk alphas"),
    ("C:3", "gamma receptor site", "gr site")).toDF("concept_id", "label", "synonyms")

  private def mentionsOf(rows: (String, Int, String)*): DataFrame =
    rows.toDF("conv_id", "turn_idx", "mention").repartition(3)

  test("synthetic seeds: both linkers equal the occurrence-level reference") {
    for ((seed, nConv) <- Seq((1L, 60L), (7L, 40L), (42L, 80L))) {
      val t = Synthetic.transcripts(spark, nConv, 6, 60, seed)
      val d = Synthetic.dictionary(spark, 60, seed)
      val (mh, tf) = assertEqual(Linker.detectMentions(t), d, s"seed $seed")
      assert(mh > 0 && tf > 0, s"seed $seed links nothing: the check is vacuous")
    }
  }

  test("a surface repeated inside one turn links once per (turn, concept)") {
    val m = mentionsOf(("c1", 0, "protein kinase alpa"),
      ("c1", 0, "protein kinase alpa"), ("c1", 1, "protein kinase alpa"))
    assertEqual(m, dict, "repeated surface")
    val out = Linker.linkFuzzy(m, dict)
      .groupBy("conv_id", "turn_idx", "concept_id").count()
    assert(out.filter(col("count") =!= 1).isEmpty)
    assert(out.filter(col("turn_idx") === 0).count() > 0)
  }

  test("one surface in many conversations links in every one of them") {
    val m = mentionsOf((1 to 25).map(i => (s"c$i", i % 3, "gamma receptor sit")): _*)
    assertEqual(m, dict, "surface in many conversations")
    val convs = Linker.linkFuzzy(m, dict).select("conv_id").distinct().count()
    assert(convs == 25)
  }

  test("a mention matching two concepts links to both") {
    val m = mentionsOf(("c1", 0, "protein kinase alphaa"), ("c2", 3, "protein kinase alphaa"))
    assertEqual(m, dict, "mention matching two concepts")
    val concepts = Linker.linkFuzzy(m, dict).select("concept_id").distinct()
      .as[String].collect().toSet
    assert(concepts == Set("C:1", "C:2"))
  }

  test("an empty mention frame links nothing") {
    val m = spark.emptyDataFrame.select(lit("").as("conv_id"),
      lit(0).as("turn_idx"), lit("").as("mention"))
    assert(assertEqual(m, dict, "empty mentions") == ((0, 0)))
  }
}
