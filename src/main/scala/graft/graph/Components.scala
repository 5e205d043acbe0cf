package graft.graph

import graft.core._
import org.apache.spark.sql.{DataFrame, GraftPlanBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

/** Mapping graph construction and connected-component canonicalization.
  *
  * Re-expresses the reference's networkx digraph + SCC split
  * (reference: src/sssom/cliques.py:32-117) as connected components over
  * an edge list, with a driver arm below a row cutoff and a distributed
  * arm above it.
  *
  * Edge directions per predicate class (cliques.py:46-66): equivalence
  * predicates (equivalentClass/exactMatch/closeMatch) add both directions;
  * subClassOf/broadMatch add object→subject; narrowMatch subject→object;
  * everything else adds no edge.
  *
  * SCC-vs-CC: equivalence edges are bidirectional, so SCC over them
  * equals undirected CC. One-directional sub/super edges only merge
  * components when a directed cycle exists; [[componentLabels]] resolves
  * those by merging components joined by a component-level 2-cycle
  * (u→v and v→u across two components), repeated to a fixpoint. The one
  * documented delta vs networkx SCC: a directed cycle through ≥ 3
  * components with no component-level 2-cycle is not merged. Singleton
  * SCCs match by construction.
  *
  * Arms: below [[LocalCutoff]] rows one bounded `take` is the only Spark
  * job and the labels are computed on the driver (union-find, plus the
  * 2-cycle fixpoint on the directed path). Above it, min-label
  * propagation converges in O(max component diameter) rounds, one
  * shuffle on the node id each, `localCheckpoint` truncating lineage per
  * round (SURVEY §2.9); the directed path's condensation loop merges one
  * layer of 2-cycles per round. Both distributed loops throw past their
  * round caps instead of returning under-merged labels. Both arms label a
  * component with its min member id; `localCutoff = 0` forces the
  * distributed arm.
  */
object Components {
  import Schema._

  /** mapping rows → directed edge list (src, dst). */
  def toEdges(df: DataFrame): DataFrame = {
    val p = col(PredicateId)
    val bidirectional = p.isin(OwlEquivalentClass, SkosExactMatch, SkosCloseMatch)
    val objToSubj = p.isin(RdfsSubclassOf, SkosBroadMatch)
    val subjToObj = p.isin(SkosNarrowMatch)
    val s = col(SubjectId); val o = col(ObjectId)
    val edges = array(
      when(bidirectional || subjToObj, struct(s.as("src"), o.as("dst"))),
      when(bidirectional || objToSubj, struct(o.as("src"), s.as("dst"))))
    df.select(explode(edges).as("e"))
      .filter(col("e").isNotNull)
      .select(col("e.src"), col("e.dst"))
  }

  /** Row cutoff of the driver arms of [[connectedComponents]] and
    * [[componentLabels]]: their one bounded `take(cutoff + 1)` probe is
    * both the size gate and, below it, the whole input. 1 M probe rows
    * stay well inside the driver's default `maxResultSize`.
    */
  val LocalCutoff = 1000000

  /** Undirected connected components by iterative min-label propagation.
    *
    * Driver arm: ONE bounded `take(localCutoff + 1)` of the distinct
    * undirected edge list doubles as the size gate and, when the list
    * fits, already holds every row; a driver union-find
    * then replaces O(diameter) Spark rounds — each a job + checkpoint of
    * pure scheduler latency at these sizes. Above the cutoff the
    * distributed path re-materializes the distinct once. Labels are
    * identical on both arms (min member id per component, in
    * `idLess` order). `localCutoff = 0` forces the distributed arm.
    *
    * @return (node, component) with component = min member id.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50,
      alreadySymmetric: Boolean = false,
      localCutoff: Int = LocalCutoff): DataFrame = {
    val spark = edges.sparkSession
    // undirected view + dedup once up front (skip the reverse union when
    // the caller guarantees symmetric input — e.g. equivalence edges)
    val und0 =
      if (alreadySymmetric) edges.select(col("src"), col("dst"))
      else edges.select(col("src"), col("dst"))
        .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val undDistinct = und0.distinct()

    val idType = undDistinct.schema("src").dataType
    if (localCutoff > 0 && idTypeSupported(idType)) {
      val probe = undDistinct.take(localCutoff + 1)
      if (probe.length <= localCutoff) {
        val uf = new UnionFind
        // output order = first appearance as a source, as the rows came
        val srcs = scala.collection.mutable.ArrayBuffer.empty[Int]
        val isSrc = new java.util.BitSet
        probe.foreach { r =>
          val a = r.get(0); val b = r.get(1)
          if (a != null && b != null) {
            val ia = uf.idOf(a)
            uf.union(ia, uf.idOf(b))
            if (!isSrc.get(ia)) { isSrc.set(ia); srcs += ia }
          }
        }
        return localFrame(spark, idType,
          srcs.iterator.map(i => Row(uf.id(i), uf.label(i))))
      }
    }

    // distributed path: the loop re-reads the edge set every round, so
    // materialize it once (the probe above read at most cutoff+1 rows)
    val und = undDistinct.localCheckpoint(true)

    // round 1 fused into initialization: label = min(self, direct
    // neighbors) — one job instead of init-checkpoint + first iteration
    var labels = und
      .groupBy(col("src").as("node"))
      .agg(least(min(col("dst")), first(col("src"))).as("comp"))
      .localCheckpoint(true)

    var converged = false
    var iter = 1
    while (!converged && iter < maxIter) {
      // min neighbor label per node, folded with the old label; the
      // convergence count rides the SAME materialization job via
      // Dataset.observe — one Spark job per round total
      val obs = org.apache.spark.sql.Observation(s"cc_$iter")
      val nbrMin = und.join(labels.withColumnRenamed("node", "src"), Seq("src"))
        .groupBy(col("dst").as("node")).agg(min("comp").as("nbr_comp"))
        .withColumnRenamed("dst", "node")
      val updated = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("nbr_comp"), col("comp"))).as("comp"),
          (coalesce(col("nbr_comp"), col("comp")) < col("comp")).as("changed"))
        .observe(obs, sum(col("changed").cast("long")).as("changes"))
        .localCheckpoint(true)
      val changes = obs.get.get("changes").map {
        case null => 0L
        case l: java.lang.Long => l.longValue()
        case other => other.toString.toLong
      }.getOrElse(0L)
      labels = updated.drop("changed")
      converged = changes == 0
      iter += 1
    }
    if (!converged)
      // diameter exceeded the round cap — labels would be silently wrong
      throw new IllegalStateException(
        s"min-label CC did not converge in $maxIter rounds (graph diameter " +
          "too large) — use connectedComponentsStar, which converges in " +
          "O(log² n) rounds regardless of diameter")
    labels
  }

  /** Undirected connected components by alternating large-star/small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — the scale path for DEEP graphs: converges in
    * O(log² n) rounds independent of component diameter, where min-label
    * propagation needs O(diameter) rounds. Each half-round is a
    * partial-agg groupBy + an equi-join (AQE-splittable); no giant
    * component ever concentrates on one task. Mapping cliques are
    * shallow, so `connectedComponents` stays the default; this is the
    * drop-in alternative when components may be long chains.
    *
    * @return (node, component) with component = min member id, for every
    *         edge endpoint (same contract as `connectedComponents`).
    */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    var e = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct().localCheckpoint(true)

    def checksum(d: DataFrame): (Long, String) = {
      // decimal sum: ANSI mode throws on long overflow
      val r = d.agg(count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast("decimal(27,0)")))
        .collect()(0)
      (r.getLong(0), String.valueOf(r.get(1)))
    }

    def largeStar(d: DataFrame): DataFrame = {
      val nbrs = d.union(d.select(col("dst").as("src"), col("src").as("dst")))
      val mins = nbrs.groupBy(col("src"))
        .agg(least(min(col("dst")), first(col("src"))).as("m"))
      // attach every neighbor LARGER than u to u's minimum
      nbrs.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    def smallStar(d: DataFrame): DataFrame = {
      val oriented = d.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val mins = oriented.groupBy(col("u")).agg(min(col("v")).as("m"))
      // attach u and all its smaller neighbors to the overall minimum
      val fromNbrs = oriented.join(mins, "u")
        .select(col("v").as("src"), col("m").as("dst"))
      val fromSelf = mins.select(col("u").as("src"), col("m").as("dst"))
      fromNbrs.union(fromSelf)
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    var prev = checksum(e)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      e = smallStar(largeStar(e)).localCheckpoint(true)
      val cur = checksum(e)
      converged = cur == prev
      prev = cur
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxIter rounds — " +
          "refusing to return labels from an unconverged edge set; raise " +
          "maxIter (expected rounds grow O(log² n))")
    // fixpoint: every edge is (node → component root)
    e.select(col("src").as("node"), col("dst").as("comp"))
      .union(e.select(col("dst").as("node"), col("dst").as("comp")))
      .groupBy("node").agg(min("comp").as("comp"))
  }

  /** Component labels for a mapping set, including the directed-cycle merge
    * described above. Every subject and object of `df` gets a label
    * (its own singleton unless an undirected edge or a cycle merges it).
    *
    * Directed case, driver arm: ONE bounded `take(localCutoff + 1)` of the
    * (subject, predicate, object) projection — the only Spark job — then
    * union-find over the reciprocal edges and the component-level 2-cycle
    * merge repeated to a fixpoint, all on the driver; the labels come back
    * as a local DataFrame. Above the cutoff (or at `localCutoff = 0`) the
    * distributed condensation loop runs instead; both arms give identical
    * labels (min member id).
    */
  def componentLabels(df: DataFrame, assumeUndirected: Boolean = false,
      localCutoff: Int = LocalCutoff): DataFrame =
    // exactMatch-only graphs: edges are symmetric, so the CC labels of the
    // edge list are already complete — no reciprocal check, no merge loop
    if (assumeUndirected)
      connectedComponents(toEdges(df), alreadySymmetric = true,
        localCutoff = localCutoff)
    else localDirectedLabels(df, localCutoff)
      .getOrElse(distributedDirectedLabels(df, localCutoff))

  /** Rounds of component-level 2-cycle merging the distributed arm runs
    * before it refuses to return under-merged labels.
    */
  val CondensationRounds = 10

  private def localDirectedLabels(df: DataFrame,
      cutoff: Int): Option[DataFrame] = {
    val idType = df.schema(SubjectId).dataType
    if (cutoff <= 0 || !idTypeSupported(idType) ||
        df.schema(ObjectId).dataType != idType) return None
    val probe = df.select(col(SubjectId), col(PredicateId), col(ObjectId))
      .take(cutoff + 1)
    if (probe.length > cutoff) return None

    // directed edges as packed (src, dst) dense-id pairs, per toEdges
    val uf = new UnionFind
    val packed = new scala.collection.mutable.ArrayBuilder.ofLong
    var hasNull = false
    probe.foreach { r =>
      val s = r.get(0); val o = r.get(2)
      if (s == null || o == null) {
        // a null id labels as null and joins no component, as on the
        // distributed arm (its equi-joins drop null keys)
        hasNull = true
        if (s != null) uf.idOf(s)
        if (o != null) uf.idOf(o)
      } else {
        val a = uf.idOf(s); val b = uf.idOf(o)
        r.getString(1) match {
          case OwlEquivalentClass | SkosExactMatch | SkosCloseMatch =>
            packed += pack(a, b); packed += pack(b, a)
          case SkosNarrowMatch => packed += pack(a, b)
          case RdfsSubclassOf | SkosBroadMatch => packed += pack(b, a)
          case _ =>
        }
      }
    }
    val edges = sortedSet(packed.result())
    // reciprocal edges behave undirected
    edges.foreach { e =>
      if (contains(edges, reverse(e))) uf.union(hi(e), lo(e))
    }
    // merge components joined by a component-level 2-cycle until none is
    // left; every merging round removes a component, so this terminates
    var merged = true
    while (merged) {
      val cross = new scala.collection.mutable.ArrayBuilder.ofLong
      edges.foreach { e =>
        val a = uf.find(hi(e)); val b = uf.find(lo(e))
        if (a != b) cross += pack(a, b)
      }
      val comp = sortedSet(cross.result())
      merged = false
      comp.foreach { c =>
        if (contains(comp, reverse(c)) && uf.union(hi(c), lo(c))) merged = true
      }
    }
    val labels = Iterator.range(0, uf.size).map(i => Row(uf.id(i), uf.label(i)))
    Some(localFrame(df.sparkSession, idType,
      if (hasNull) labels ++ Iterator(Row(null, null)) else labels))
  }

  private def distributedDirectedLabels(df: DataFrame,
      localCutoff: Int): DataFrame = {
    val edges = toEdges(df).localCheckpoint(true)
    // seed CC with the undirected (reciprocal) subgraph: a directed edge
    // whose reverse is also present behaves undirected
    val reciprocal = edges.intersect(
      edges.select(col("dst").as("src"), col("src").as("dst")))
    val cc = connectedComponents(reciprocal, localCutoff = localCutoff)
    val allNodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node")))
      .union(df.select(col(SubjectId).as("node")))
      .union(df.select(col(ObjectId).as("node")))
      .distinct()
    var labels = allNodes.join(cc, Seq("node"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))
      .localCheckpoint(true)

    // component-level condensation: merge components linked by a directed
    // 2-cycle (u→v and v→u across components); iterate to a fixpoint
    var round = 0
    var done = false
    while (!done) {
      val lSrc = labels.select(col("node").as("src"), col("comp").as("c_src"))
      val lDst = labels.select(col("node").as("dst"), col("comp").as("c_dst"))
      val compEdges = edges.join(lSrc, "src").join(lDst, "dst")
        .select(col("c_src"), col("c_dst"))
        .filter(col("c_src") =!= col("c_dst")).distinct()
      val mutual = compEdges.intersect(
        compEdges.select(col("c_dst").as("c_src"), col("c_src").as("c_dst")))
      if (mutual.isEmpty) done = true
      else if (round == CondensationRounds)
        // labels would be silently under-merged
        throw new IllegalStateException(
          s"componentLabels: directed-cycle condensation did not converge " +
            s"in $CondensationRounds rounds (a chain of components merged " +
            "one per round)")
      else {
        val merged = connectedComponents(
          mutual.select(col("c_src").as("src"), col("c_dst").as("dst")),
          localCutoff = localCutoff)
        // the next round plans without this round's size estimate (see
        // GraftPlanBridge): it joins the labels twice and merges back,
        // so carried estimates would gain ~5× their digits per round
        labels = GraftPlanBridge.withoutOriginStats(labels.join(
          merged.select(col("node").as("comp"), col("comp").as("newComp")),
          Seq("comp"), "left")
          .select(col("node"),
            coalesce(col("newComp"), col("comp")).as("comp"))
          .localCheckpoint(true))
        round += 1
      }
    }
    labels
  }

  // (src, dst) dense-id pairs packed into one long, for primitive sorted
  // sets: ids are non-negative ints, so packed order is (src, dst) order
  private def pack(a: Int, b: Int): Long = (a.toLong << 32) | b
  private def hi(e: Long): Int = (e >>> 32).toInt
  private def lo(e: Long): Int = e.toInt
  private def reverse(e: Long): Long = pack(lo(e), hi(e))
  private def sortedSet(xs: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(xs)
    var n = 0
    xs.foreach { x => if (n == 0 || xs(n - 1) != x) { xs(n) = x; n += 1 } }
    java.util.Arrays.copyOf(xs, n)
  }
  private def contains(set: Array[Long], x: Long): Boolean =
    java.util.Arrays.binarySearch(set, x) >= 0

  /** Driver union-find over ids mapped to dense ints, union by min id: the
    * root of every set is its minimum member, i.e. the component label.
    */
  private final class UnionFind {
    private val index = new java.util.HashMap[Any, Integer]()
    private val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    private var parent = new Array[Int](16)
    def size: Int = ids.length
    def id(i: Int): Any = ids(i)
    def idOf(x: Any): Int = {
      val got = index.get(x)
      if (got != null) got.intValue()
      else {
        val i = ids.length
        index.put(x, i); ids += x
        if (i == parent.length)
          parent = java.util.Arrays.copyOf(parent, 2 * parent.length)
        parent(i) = i
        i
      }
    }
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    /** @return whether two sets were merged */
    def union(a: Int, b: Int): Boolean = {
      val ra = find(a); val rb = find(b)
      if (ra == rb) false
      else {
        if (idLess(ids(ra), ids(rb))) parent(rb) = ra else parent(ra) = rb
        true
      }
    }
    def label(i: Int): Any = ids(find(i))
  }

  /** (node, comp) rows as a local DataFrame over the id type; nullability
    * as `toDF` gives it for a tuple of that type.
    */
  private def localFrame(spark: SparkSession, idType: DataType,
      rows: Iterator[Row]): DataFrame = {
    val nullable = idType != LongType
    spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*),
      StructType(Seq(StructField("node", idType, nullable),
        StructField("comp", idType, nullable))))
  }

  private[graph] def idTypeSupported(dt: DataType): Boolean =
    dt == LongType || dt == StringType

  /** Id order of the driver kernels: numeric for longs, UTF-8 binary
    * (= code-point) for strings — the order of Spark's UTF8String and of
    * DuckDB's VARCHAR, so driver labels equal Spark's `min`. Java's
    * String.compareTo (UTF-16 code units) disagrees on supplementary
    * characters, hence the explicit comparator.
    */
  private[graph] def idLess(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Long, y: Long)     => x < y
    case (x: String, y: String) => u8Less(x, y)
    case _ => throw new IllegalStateException("unsupported id type")
  }

  // equal prefixes advance both cursors identically, so one shared index
  // is safe
  private def u8Less(a: String, b: String): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val ca = a.codePointAt(i); val cb = b.codePointAt(i)
      if (ca != cb) return ca < cb
      i += Character.charCount(ca)
    }
    a.length < b.length
  }

  /** Assign each mapping to its subject's component
    * (reference cliques.py:110-116) and return df + `component` column.
    */
  def assignComponents(df: DataFrame): DataFrame = {
    val labels = componentLabels(df)
    df.join(labels.withColumnRenamed("node", SubjectId)
      .withColumnRenamed("comp", "component"), Seq(SubjectId), "left")
  }

  /** Per-component summary statistics (reference `summarize_cliques`,
    * src/sssom/cliques.py:142-214): one groupBy, all-builtin aggregates;
    * harmonic mean = n / sum(1/x).
    */
  def summarizeCliques(df: DataFrame): DataFrame = {
    val withComp = assignComponents(df)
    val prefix = (c: org.apache.spark.sql.Column) =>
      when(c.contains(":"), split(c, ":", 2).getItem(0)).otherwise(c)
    withComp
      .withColumn("__subj_src", prefix(col(SubjectId)))
      .withColumn("__obj_src", prefix(col(ObjectId)))
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("num_mappings"),
        size(array_distinct(flatten(collect_list(
          array(col(SubjectId), col(ObjectId)))))).as("num_members"),
        array_join(array_sort(array_distinct(flatten(collect_list(
          array(col(SubjectId), col(ObjectId)))))), "|").as("members"),
        max(col(Confidence)).as("max_confidence"),
        min(col(Confidence)).as("min_confidence"),
        avg(col(Confidence)).as("avg_confidence"),
        countDistinct(col("__subj_src")).as("num_subject_sources"),
        countDistinct(col("__obj_src")).as("num_object_sources"))
  }
}
