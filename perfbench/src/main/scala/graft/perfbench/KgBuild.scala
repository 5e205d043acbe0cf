package graft.perfbench

import graft.core.Schema
import graft.graph.Components
import graft.kg.{KgPipeline, Linker, Synthetic}
import graft.ops.{MergeReconcile, TripleEmit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** kg_build: `KgPipeline.run` on `Synthetic` transcripts (8 turns per
  * conversation, 2,000 concepts, 10 % of turns on 16 head concepts), each
  * run into a fresh output directory. Items are transcript turns.
  */
final class KgBuild(seed: Long, work: String, nConv: Long) extends Workload {
  // graft.Bench's KG scaling sessions: AQE and whole-stage codegen off
  override def aqe: Boolean = false
  override def codegen: Boolean = false
  override def oneThreadLayers: Seq[String] =
    Seq("kg.extract.s", "kg.build_graph.s", "kg.materialize.s")

  val turnsPerConv = 8
  val nConcepts = 2000L
  val turns: Long = nConv * turnsPerConv

  private var runNo = 0
  private var lastOut: Option[String] = None

  private def freshConfig(): KgPipeline.Config = {
    runNo += 1
    val out = s"$work/kg/run$runNo"
    // keep only the latest output: it is the one the checks read
    lastOut.foreach(KgBuild.deleteTree)
    lastOut = Some(out)
    KgPipeline.Config(outDir = out, nConv = nConv, turnsPerConv = turnsPerConv,
      nConcepts = nConcepts, seed = seed)
  }

  def prepare(spark: SparkSession): Unit = () // generation is the pipeline's first stage

  def pass(spark: SparkSession): PassResult = {
    val cfg = freshConfig()
    val (err, sec) = Clock.time {
      try { KgPipeline.run(spark, cfg); None }
      catch { case e: Exception => Some(s"KgPipeline.run: ${e.getMessage}") }
    }
    PassResult(sec, turns, 1, err.size, err.toSeq)
  }

  def traced(spark: SparkSession, tr: Tracer): (PassResult, Map[String, Double]) = {
    val cfg = freshConfig()
    val (_, sec) = Clock.time(tr.span("kg.run") {
      val mappings = tr.span("kg.extract") {
        val (transcripts, dict) = tr.spanWith("kg.generate") {
          (Synthetic.transcripts(spark, cfg.nConv, cfg.turnsPerConv, cfg.nConcepts,
            cfg.seed).localCheckpoint(true),
            Synthetic.dictionary(spark, cfg.nConcepts, cfg.seed).localCheckpoint(true))
        }(r => Map("rows" -> r._1.count().toDouble))
        val mentions = tr.spanWith("kg.mentions") {
          Linker.detectMentions(transcripts).localCheckpoint(true)
        }(rows)
        val exact = tr.spanWith("kg.link_exact") {
          Linker.linkExact(mentions, dict).localCheckpoint(true)
        }(rows)
        val fuzzyPlan = Linker.linkFuzzy(mentions, dict)
        val fuzzy = tr.spanWith("kg.link_fuzzy")(fuzzyPlan.localCheckpoint(true)) { d =>
          val n = d.count().toDouble
          val candidates = KgBuild.bandJoinRows(fuzzyPlan.queryExecution.executedPlan)
          Map("rows" -> n, "yield" -> (if (candidates > 0) n / candidates else 0.0))
        }
        Linker.toSssomRows(exact.unionByName(fuzzy)).localCheckpoint(true)
      }
      val graph = tr.span("kg.build_graph") {
        val reconciled = tr.spanWith("ops.reconcile") {
          MergeReconcile.filterRedundantRows(mappings).localCheckpoint(true)
        }(d => Map("rows_in" -> mappings.count().toDouble, "rows_out" -> d.count().toDouble))
        val triples = tr.span("ops.emit") {
          TripleEmit.emit(reconciled, KgPipeline.prefixes, expand = false)
            .withColumnRenamed("subject", Schema.SubjectId)
            .withColumnRenamed("predicate", Schema.PredicateId)
            .withColumnRenamed("object", Schema.ObjectId)
            .localCheckpoint(true)
        }
        val labels = tr.spanWith("graph.cc") {
          Components.componentLabels(
            triples.filter(col(Schema.PredicateId) === Schema.SkosExactMatch),
            assumeUndirected = true).localCheckpoint(true)
        }(d => Map("components" -> d.select("comp").distinct().count().toDouble))
        // the label join that closes KgPipeline.buildGraph
        triples
          .join(labels.withColumnRenamed("node", Schema.SubjectId)
            .withColumnRenamed("comp", "component"), Seq(Schema.SubjectId), "left")
          .withColumn("component", coalesce(col("component"), col(Schema.SubjectId)))
          .localCheckpoint(true)
      }
      tr.spanWith("kg.materialize")(KgPipeline.materialize(spark, graph, cfg)) { _ =>
        Map("bytes" -> KgBuild.treeBytes(cfg.outDir).toDouble)
      }
    })
    tr.finish()
    (PassResult(sec, turns, 1, 0), tr.layerValues(tr.all.filter(_.name != "kg.run")))
  }

  private def rows(d: DataFrame): Map[String, Double] = Map("rows" -> d.count().toDouble)

  override def derived(sec4: Double, sec1: Option[Double]): Map[String, Double] =
    sec1.map { s1 =>
      Map("kg.turns_per_s_1t" -> turns / s1,
        // turns_per_s / (4 × turns_per_s_1t)
        "kg.scaling_efficiency" -> s1 / (4 * sec4))
    }.getOrElse(Map.empty)

  def check(spark: SparkSession): Seq[Check] = {
    val out = lastOut.getOrElse(return Seq(Check("kg.output", ok = false, "no run")))
    val manifest = new String(Files.readAllBytes(Paths.get(out, "_manifest.json")))
    val nTriples = "\"n_triples\":(\\d+)".r.findFirstMatchIn(manifest).map(_.group(1).toLong)
    val edges = spark.read.parquet(s"$out/edges")
    val edgeRows = edges.count()
    val ledger = Files.readAllLines(Paths.get(out, "_ledger.jsonl")).asScala
    val complete = ledger.filter(_.contains("\"status\":\"complete\""))
      .flatMap(l => "\"group\":(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toInt)).toSet
    val groups = KgPipeline.Config(outDir = out).resumeGroups

    // exact-link precision: each exactMatch object label, normalized,
    // equals the mention surface its subject CURIE encodes
    val dict = Synthetic.dictionary(spark, nConcepts, seed)
    val exact = edges.filter(col(Schema.PredicateId) === Schema.SkosExactMatch)
      .select(regexp_replace(regexp_replace(col(Schema.SubjectId), "^txt:", ""), "_", " ")
        .as("surface"), col(Schema.ObjectId).as("concept_id"))
      .join(dict.select(col("concept_id"), Linker.normalize(col("label")).as("norm")),
        Seq("concept_id"), "left")
    val nExact = exact.count()
    val exactOk = exact.filter(col("surface") === col("norm")).count()

    // planted-link recall: planted mentions parsed from the transcript
    // template "the <w> of <mention> near the <w>", independently of Linker
    val planted = Synthetic.transcripts(spark, nConv, turnsPerConv, nConcepts, seed)
      .select(regexp_extract(col("text"), "^the \\S+ of (.+) near the \\S+$", 1).as("surface"))
      .filter(col("surface") =!= "").distinct()
    val surfaces = dict.select(col("concept_id"),
      explode(array(lower(col("label")), lower(col("synonyms")))).as("surface"))
    val linked = edges.select(
        regexp_replace(regexp_replace(col(Schema.SubjectId), "^txt:", ""), "_", " ").as("surface"),
        col(Schema.ObjectId).as("concept_id"))
      .join(surfaces, Seq("surface", "concept_id")).select("surface").distinct()
    val nPlanted = planted.count()
    val recalled = planted.join(linked, Seq("surface"), "left_semi").count()
    val recall = if (nPlanted == 0) 0.0 else recalled.toDouble / nPlanted

    Seq(
      Check("kg.manifest_triples", nTriples.contains(edgeRows),
        s"manifest n_triples=${nTriples.getOrElse(-1L)} edge rows=$edgeRows"),
      Check("kg.ledger_complete", complete == (0 until groups).toSet,
        s"complete groups ${complete.toSeq.sorted.mkString(",")} of $groups"),
      Check("kg.exact_precision", nExact > 0 && exactOk == nExact,
        s"$exactOk of $nExact exactMatch edges match their label"),
      Check("kg.planted_recall", recall >= 0.95,
        f"$recalled of $nPlanted planted mentions linked (recall $recall%.4f)"))
  }
}

object KgBuild {

  /** Output rows of the fuzzy linker's (band, sig) broadcast join: the
    * candidate pairs before verification, read from the executed plan.
    */
  def bandJoinRows(plan: SparkPlan): Double =
    plan.collect { case j: BroadcastHashJoinExec
        if j.leftKeys.exists(_.references.exists(_.name == "band")) => j }
      .flatMap(_.metrics.get("numOutputRows")).map(_.value.toDouble).sum

  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.iterator().asScala.toSeq.reverse.foreach((f: Path) => Files.deleteIfExists(f))
      finally st.close()
    }
  }
}
