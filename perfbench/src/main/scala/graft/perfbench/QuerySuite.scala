package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Query families of the `graft.Bench.headline` queries. */
object Families {

  val Names: Seq[String] = Seq("sssom", "doc", "embed", "kg", "event", "skew", "other")

  /** The SSSOM reference operations re-expressed over lineitem. */
  private val SssomQueries = Set("q_collapse_agg", "q_crosstab",
    "q_window_max_filter", "q_reconcile_sssom", "q_cardinality",
    "q_anti_remove", "q_union_dedup", "q_diff_pairs", "q_invert")

  private val Rules: Seq[(String, String => Boolean)] = Seq(
    "sssom" -> SssomQueries.contains,
    "doc" -> (_.startsWith("q_doc_")),
    "embed" -> (_.startsWith("q_embed_")),
    "kg" -> (q => q.startsWith("q_kg_") || q.startsWith("q_cc_")),
    "event" -> (_.startsWith("q_event_")),
    "skew" -> (_.startsWith("q_skew_")))

  /** Families whose rule matches `q`; "other" when none does. */
  def matching(q: String): Seq[String] = Rules.collect { case (f, r) if r(q) => f } match {
    case Seq() => Seq("other")
    case fs => fs
  }

  def family(q: String): String = matching(q) match {
    case Seq(f) => f
    case fs => throw new IllegalStateException(s"$q matches families ${fs.mkString(",")}")
  }
}

/** query_suite: a fixed set of `graft.Bench.headline` queries over tables
  * generated from the seed, at local[4], in an order shuffled by the seed.
  * The set is the leaves ROADMAP items 2-4 target plus one cheap query for
  * each family those leaves leave empty. Items are queries.
  */
final class QuerySuite(seed: Long, work: String, tables: String) extends Workload {
  import QuerySuite._

  private val order: Seq[String] = new scala.util.Random(seed).shuffle(Queries)
  private val outputs = s"$work/outputs"
  private var warmFailures = Seq.empty[String]

  def prepare(spark: SparkSession): Unit = {
    require(Files.exists(Paths.get(tables, "lineitem.parquet")),
      s"generated tables missing under $tables")
  }

  /** Warm pass: oracle-checked queries write their result for the DuckDB
    * comparison, the rest count like the timed passes.
    */
  override def warm(spark: SparkSession): Unit = {
    val oracle = SparkEntry.oracleSql
    warmFailures = order.flatMap { q =>
      try {
        val df = SparkEntry.queries(q)(spark, tables)
        if (oracle.contains(q)) df.coalesce(1).write.mode("overwrite").parquet(s"$outputs/$q")
        else df.count()
        None
      } catch { case e: Exception => Some(s"$q: ${e.getMessage}") }
    }
    val json = order.filter(oracle.contains)
      .map(q => s"${jsonString(q)}: ${jsonString(oracle(q))}").mkString("{", ",", "}")
    Files.createDirectories(Paths.get(outputs))
    Files.write(Paths.get(outputs, "oracle_sql.json"), json.getBytes(StandardCharsets.UTF_8))
  }

  private def runQuery(spark: SparkSession, q: String): Option[String] =
    try { SparkEntry.queries(q)(spark, tables).count(); None }
    catch { case e: Exception => Some(s"$q: ${e.getMessage}") }

  def pass(spark: SparkSession): PassResult = {
    val (f, sec) = Clock.time(order.flatMap(runQuery(spark, _)))
    PassResult(sec, order.size, order.size, f.size, f)
  }

  def traced(spark: SparkSession, tr: Tracer): (PassResult, Map[String, Double]) = {
    val (f, sec) = Clock.time(tr.span("suite") {
      order.flatMap(q => tr.span(s"suite.$q")(runQuery(spark, q)))
    })
    tr.finish()
    val root = tr.all.find(_.name == "suite").get
    val perQuery = tr.all.filter(_.parent.contains(root.id))
      .map(s => (s.name.stripPrefix("suite."), tr.seconds(s), tr.inclusive(s)))
    val total = tr.inclusive(root)
    val v = Map(
      "suite.shuffle_bytes" -> total.shuffleBytes.toDouble,
      "suite.spill_bytes" -> total.spillBytes.toDouble,
      "suite.jobs" -> total.jobs.toDouble,
      "suite.zero_shuffle_queries" -> perQuery.count(_._3.shuffleBytes == 0).toDouble) ++
      Families.Names.flatMap { fam =>
        val members = perQuery.filter(p => Families.family(p._1) == fam)
        Seq(s"suite.$fam.s" -> members.map(_._2).sum,
          s"suite.$fam.shuffle_bytes" -> members.map(_._3.shuffleBytes.toDouble).sum)
      } ++
      perQuery.collect { case (q, s, _) if Leaves.contains(q) => s"suite.$q.s" -> s }
    (PassResult(sec, order.size, order.size, f.size, f), v)
  }

  /** Failed queries of the warm pass (its outputs feed the oracle check,
    * which run.py makes with DuckDB after this process ends).
    */
  def check(spark: SparkSession): Seq[Check] =
    warmFailures.map(f => Check("query.completes", ok = false, f))
}

object QuerySuite {

  /** The leaves ROADMAP items 2-4 name; each gets its own per-layer time.
    * Two named leaves are left out to keep a run short: q_kg_triples runs
    * the KgPipeline stages kg_build already measures, and
    * q_doc_curation_scale runs q_doc_curation's funnel with another
    * stage-5 arm.
    */
  val Leaves: Seq[String] = Seq("q_reconcile_sssom", "q_doc_ngram_jaccard",
    "q_doc_neardup_dedup", "q_doc_curation", "q_cc_small",
    "q_kg_cc_incremental", "q_kg_triangles", "q_kg_kcore",
    "q_kg_link_predict", "q_doc_bpe_merges", "q_doc_model_quality_trained")

  /** One query for each family the leaves leave empty. */
  val FamilyFill: Seq[String] = Seq("q_embed_norm", "q_event_hourly",
    "q_skew_key_audit", "q_like_filter")

  val Queries: Seq[String] = Leaves ++ FamilyFill

  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
