package graft.perfbench

import graft.core.{Msdf, Schema}
import graft.graph.Components
import graft.io.SssomTsv
import graft.ops.{Invert, MergeReconcile}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom

/** Deterministic SSSOM TSV mapping sets. Set `a` covers entity pairs
  * [0, pairs) and set `b` covers [pairs/2, 3·pairs/2), so half of each set's
  * pairs is shared. Every pair carries 1-3 rows with mixed predicates, a
  * tie-heavy confidence grid, ~2 % `Not` modifiers and ~5 % empty
  * confidences.
  */
object SssomGen {

  val Predicates: Seq[String] = Seq(Schema.SkosExactMatch, Schema.SkosCloseMatch,
    Schema.SkosBroadMatch, Schema.SkosNarrowMatch, Schema.RdfsSubclassOf)
  private val Justifications = Seq("semapv:LexicalMatching",
    "semapv:ManualMappingCuration", "semapv:UnspecifiedMatching")
  private val Confidences = Seq("0.5", "0.6", "0.7", "0.8", "0.9", "0.95")
  val Columns: Seq[String] = Seq("subject_id", "subject_label", "predicate_id",
    "predicate_modifier", "object_id", "object_label", "mapping_justification",
    "confidence")

  private def header(set: String): String =
    s"""#curie_map:
       |#  HP: http://purl.obolibrary.org/obo/HP_
       |#  MP: http://purl.obolibrary.org/obo/MP_
       |#  rdfs: http://www.w3.org/2000/01/rdf-schema#
       |#  semapv: https://w3id.org/semapv/vocab/
       |#  skos: http://www.w3.org/2004/02/skos/core#
       |#mapping_set_id: https://example.org/perfbench/set_$set
       |#license: https://creativecommons.org/publicdomain/zero/1.0/
       |""".stripMargin

  /** Pair k's entities: subjects and objects are drawn from pools half the
    * pair count wide, so entities recur across pairs and form components.
    */
  private def entities(seed: Long, pairs: Int, k: Int): (Int, Int) = {
    val r = new SplittableRandom(seed * 1000003L + k)
    val pool = math.max(1, pairs / 2)
    (r.nextInt(pool), r.nextInt(pool))
  }

  /** TSV text of set `set` ("a" or "b"). */
  def tsv(seed: Long, set: String, pairs: Int): String = {
    val sb = new StringBuilder(header(set))
    sb.append(Columns.mkString("\t")).append('\n')
    val from = if (set == "a") 0 else pairs / 2
    (from until from + pairs).foreach { k =>
      val (s, o) = entities(seed, pairs, k)
      val r = new SplittableRandom((seed * 31 + set.hashCode) * 1000003L + k)
      (0 to r.nextInt(3)).foreach { _ =>
        val pred = Predicates(r.nextInt(Predicates.size))
        val modifier = if (r.nextInt(50) == 0) "Not" else ""
        val conf = if (r.nextInt(20) == 0) "" else Confidences(r.nextInt(Confidences.size))
        sb.append(f"HP:$s%07d\tphenotype $s\t$pred\t$modifier\tMP:$o%07d\t" +
          s"mouse phenotype $o\t${Justifications(r.nextInt(Justifications.size))}\t$conf\n")
      }
    }
    sb.result()
  }

  def dataRows(tsv: String): Long =
    tsv.linesIterator.count(l => l.nonEmpty && !l.startsWith("#")) - 1L
}

/** sssom_ops: sssom-py's command chain in a closed loop with one client —
  * read two sets → merge with reconcile → invert → diff → cliques → write.
  * Items are input mapping rows.
  */
final class SssomOps(seed: Long, work: String, pairs: Int) extends Workload {
  // the session of graft's sssom CLI: Spark defaults (AQE and whole-stage
  // codegen on) with 32 shuffle partitions
  override def shufflePartitions(threads: Int): Int = 32
  private val pathA = s"$work/sssom/a.sssom.tsv"
  private val pathB = s"$work/sssom/b.sssom.tsv"
  private val outPath = s"$work/sssom/out.sssom.tsv"
  private var inputRows = 0L
  // outputs of the latest pass, read by the checks
  private var lastA: Msdf = _
  private var lastMerged: Msdf = _
  private var lastWritten: Msdf = _

  def prepare(spark: SparkSession): Unit = {
    Files.createDirectories(Paths.get(s"$work/sssom"))
    inputRows = Seq(pathA -> "a", pathB -> "b").map { case (p, set) =>
      val text = SssomGen.tsv(seed, set, pairs)
      Files.write(Paths.get(p), text.getBytes(StandardCharsets.UTF_8))
      SssomGen.dataRows(text)
    }.sum
  }

  def pass(spark: SparkSession): PassResult = {
    val failures = Seq.newBuilder[String]
    def op[A](name: String)(body: => A): Option[A] =
      try Some(body)
      catch { case e: Exception => failures += s"$name: ${e.getMessage}"; None }
    val (_, sec) = Clock.time {
      val a = op("read a")(SssomTsv.read(spark, pathA))
      val b = op("read b")(SssomTsv.read(spark, pathB))
      // the merged set feeds invert, cliques and write: materialize it once,
      // as sssom-py's CLI does by writing the merge output to a file
      val merged = op("merge") {
        val m = MergeReconcile.merge(Seq(a.get, b.get), reconcile = true)
        m.withDf(m.df.localCheckpoint(true))
      }
      val inverted = op("invert")(merged.get.withDf(Invert.invertMappings(merged.get.df)))
      op("diff")(MergeReconcile.diff(a.get.df, b.get.df).combined.count())
      op("cliques")(Components.assignComponents(merged.get.df).count())
      op("write")(SssomTsv.write(inverted.get, outPath))
      lastA = a.orNull; lastMerged = merged.orNull; lastWritten = inverted.orNull
    }
    val f = failures.result()
    PassResult(sec, inputRows, 7, f.size, f)
  }

  def traced(spark: SparkSession, tr: Tracer): (PassResult, Map[String, Double]) = {
    def cp(m: Msdf): Msdf = m.withDf(m.df.localCheckpoint(true))
    val (failed, sec) = Clock.time(tr.span("sssom.chain") {
      val (a, b) = tr.spanWith("io.tsv_read") {
        (cp(SssomTsv.read(spark, pathA)), cp(SssomTsv.read(spark, pathB)))
      }(r => Map("rows" -> (r._1.df.count() + r._2.df.count()).toDouble))
      val merged = tr.spanWith("ops.merge_reconcile") {
        cp(MergeReconcile.merge(Seq(a, b), reconcile = true))
      }(m => Map("rows_in" -> (a.df.count() + b.df.count()).toDouble,
        "rows_out" -> m.df.count().toDouble))
      val inverted = tr.span("ops.invert")(cp(merged.withDf(Invert.invertMappings(merged.df))))
      tr.span("ops.diff")(MergeReconcile.diff(a.df, b.df).combined.localCheckpoint(true))
      val cliquesFailed = tr.spanWith("graph.cliques") {
        try { Components.assignComponents(merged.df).localCheckpoint(true); 0 }
        catch { case _: Exception => 1 }
      }(f => Map("failed" -> f.toDouble))
      // write collects the whole set on the driver: the bytes the calling
      // thread allocates inside it show that cost
      tr.spanWith("io.tsv_write") {
        val before = DriverAlloc.bytes()
        SssomTsv.write(inverted, outPath)
        DriverAlloc.bytes() - before
      } { alloc =>
        Map("bytes" -> Files.size(Paths.get(outPath)).toDouble,
          "driver_alloc_mb" -> alloc / 1048576.0)
      }
      cliquesFailed
    })
    tr.finish()
    (PassResult(sec, inputRows, 7, failed), tr.layerValues(tr.all.filter(_.name != "sssom.chain")))
  }

  /** Rows of `d` over `cols` as a multiset, collected to the driver (the
    * checked sets have a few ten thousand rows).
    */
  private def bag(d: DataFrame, cols: Seq[String]): Map[Seq[Any], Int] =
    d.select(cols.map(col): _*).collect().toSeq.groupBy(_.toSeq).map { case (k, v) => k -> v.size }

  /** `x` is a sub-multiset of `y` over `cols`. */
  private def subBag(x: DataFrame, y: DataFrame, cols: Seq[String]): Boolean = {
    val ys = bag(y, cols)
    bag(x, cols).forall { case (k, n) => ys.getOrElse(k, 0) >= n }
  }

  def check(spark: SparkSession): Seq[Check] = {
    if (lastWritten == null || lastMerged == null || lastA == null)
      return Seq(Check("sssom.outputs", ok = false, "the chain produced no output"))
    def guarded(name: String)(body: => (Boolean, String)): Check = {
      val t0 = System.nanoTime()
      def took = f", ${(System.nanoTime() - t0) / 1e9}%.1f s"
      try { val (ok, d) = body; Check(name, ok, d + took) }
      catch { case e: Exception => Check(name, ok = false, s"threw: ${e.getMessage}$took") }
    }

    val roundTrip = guarded("sssom.read_write_roundtrip") {
      val x = lastWritten.df
      val back = SssomTsv.read(spark, outPath).df
      val missing = x.columns.filterNot(back.columns.contains)
      val written = bag(x, x.columns.toSeq)
      val read = if (missing.isEmpty) bag(back, x.columns.toSeq) else Map.empty[Seq[Any], Int]
      (missing.isEmpty && read == written, s"${read.values.sum} rows read back of " +
        s"${written.values.sum} written; missing columns: ${missing.mkString(",")}")
    }
    val invertTwice = guarded("sssom.invert_twice") {
      val x = lastMerged.df
      def twice(d: DataFrame) = Invert.invertMappings(d, mergeInverted = false,
        updateJustification = false)
      val y = twice(twice(x))
      def invertible(d: DataFrame) = d.filter(
        col(Schema.PredicateId).isin(Schema.predicateInvertMap.keys.toSeq: _*) &&
          col(Schema.PredicateModifier) === "").distinct()
      val before = bag(invertible(x), x.columns.toSeq)
      (before == bag(invertible(y), x.columns.toSeq), s"${before.size} invertible rows")
    }
    val reconcile = guarded("sssom.reconcile_idempotent_subset") {
      val a = lastA
      val u = MergeReconcile.merge(Seq(a, SssomTsv.read(spark, pathB))).df.localCheckpoint(true)
      val r1 = MergeReconcile.filterRedundantRows(u).localCheckpoint(true)
      val r2 = MergeReconcile.filterRedundantRows(r1)
      val idempotent = bag(r1, r1.columns.toSeq) == bag(r2, r1.columns.toSeq)
      val subset = subBag(r1, u, r1.columns.toSeq)
      (idempotent && subset, s"idempotent=$idempotent subset=$subset, " +
        s"${r1.count()} of ${u.count()} rows kept")
    }
    val selfDiff = guarded("sssom.diff_self_no_unique") {
      val d = MergeReconcile.diff(lastA.df, lastA.df)
      val uniqueRows = d.combined.filter(col(Schema.Comment).startsWith("UNIQUE")).count()
      (d.nUnique1 == 0 && d.nUnique2 == 0 && uniqueRows == 0,
        s"unique1=${d.nUnique1} unique2=${d.nUnique2} unique rows=$uniqueRows")
    }
    Seq(roundTrip, invertTwice, reconcile, selfDiff)
  }
}
