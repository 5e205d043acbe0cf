package graft.kg

import graft.core.Schema
import graft.text.TextHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mention detection + candidate entity linking against a CURIE concept
  * dictionary (north rule, axes A+B).
  *
  * Stages, all declarative DataFrame ops:
  *  1. mention detection: per-turn tokenization → sliding n-gram spans
  *     (`flatMap`-shaped via explode over a token-index range) under stable
  *     (conv_id, turn_idx) ordering;
  *  2. exact linking: broadcast join of mentions against the (small)
  *     dictionary on the normalized surface form — broadcast keeps the
  *     mention side shuffle-free, so hot (head-entity) surface forms never
  *     concentrate on one task here; downstream hot-key aggregation is
  *     handled by map-side partial aggregation + AQE skew-join in the
  *     reconcile step (MergeReconcile.filterRedundantRows), not by salting;
  *  3. fuzzy linking, two blocking families (north rule: "MinHash/TF-IDF
  *     blocking"): MinHash-style LSH — character-3-gram min hashes per
  *     band on both sides, equi-join on (band, signature) — and TF-IDF
  *     rarest-token blocking (`linkFuzzyTfidf`) — each dictionary surface
  *     registers under its lowest-df token, mentions meet concepts via an
  *     equi-join on that token. Both verified by exact trigram-Jaccard
  *     ≥ threshold. Both block, dedup and verify each DISTINCT mention
  *     surface once (work grows with the vocabulary, not the corpus),
  *     then attach the verified links to the (conv_id, turn_idx, mention)
  *     occurrences through a broadcast join.
  *
  * Output: SSSOM mapping rows (subject = mention CURIE, object = concept,
  * predicate ∈ skos:exactMatch/closeMatch,
  * mapping_justification = semapv:LexicalMatching, confidence).
  */
object Linker {

  def normalize(c: Column): Column =
    regexp_replace(lower(trim(c)), "[^a-z0-9 ]", "")

  /** Detect candidate mentions: n-grams (1..maxN tokens) per turn.
    *
    * Shape note: the span strings are built per turn inside ONE nested
    * `transform` + `flatten` projection and only (conv_id, turn_idx,
    * mention) is exploded. The naive two-nested-`explode` formulation
    * makes Generate copy the full child row — including the tokens
    * array — once per (start, len) pair: O(spans × |tokens|) array
    * copying per turn, a pure memory-bandwidth tax at any scale.
    */
  def detectMentions(transcripts: DataFrame, maxN: Int = 3): DataFrame = {
    val tokens = split(normalize(col("text")), "\\s+")
    val t = transcripts
      .select(col("conv_id"), col("turn_idx"), tokens.as("tokens"))
      .withColumn("n_tok", size(col("tokens")))
    val spanArr = flatten(transform(
      sequence(lit(0), col("n_tok") - 1),
      start => transform(
        sequence(lit(1), least(lit(maxN), col("n_tok") - start)),
        len => array_join(slice(col("tokens"), start + 1, len), " "))))
    t.select(col("conv_id"), col("turn_idx"),
        explode(filter(spanArr, s => length(s) >= 3)).as("mention"))
  }

  /** MinHash band signatures over character trigrams (JIT'd kernel —
    * see graft.text.TextHash for the rationale).
    */
  def bandSignatures(c: Column, bands: Int): Column = {
    val f = udf((s: String) => TextHash.charBandSignature(s, bands))
    f(c)
  }

  /** Exact-surface link: mention == label or synonym. */
  def linkExact(mentions: DataFrame, dictionary: DataFrame): DataFrame = {
    val dict = dictionary.select(
      col("concept_id"),
      explode(array(
        struct(normalize(col("label")).as("surface"), lit(true).as("isLabel")),
        struct(normalize(col("synonyms")).as("surface"), lit(false).as("isLabel"))
      )).as("e"))
      .select(col("concept_id"), col("e.surface"), col("e.isLabel"))

    mentions
      .join(broadcast(dict), col("mention") === col("surface"))
      .select(col("conv_id"), col("turn_idx"), col("mention"),
        col("concept_id"),
        when(col("isLabel"), lit(Schema.SkosExactMatch))
          .otherwise(lit(Schema.SkosCloseMatch)).as("predicate_id"),
        when(col("isLabel"), lit(0.95)).otherwise(lit(0.85)).as("confidence"))
  }

  /** Fuzzy-link eligibility: full multi-word surfaces only — single short
    * tokens only flood the blocking keys with low-similarity candidates.
    */
  private def fuzzyEligible(mentions: DataFrame): DataFrame =
    mentions.filter(col("mention").contains(" ") && length(col("mention")) >= 7)

  private def dictSurfaces(dictionary: DataFrame): DataFrame =
    dictionary.select(col("concept_id"), normalize(col("label")).as("surface"))

  /** Verify distinct (mention, concept_id) candidates by exact
    * trigram-Jaccard, then attach the surviving links to every distinct
    * (conv_id, turn_idx, mention) occurrence. The check reads only the
    * two strings, so running it per distinct surface instead of per
    * occurrence is lossless. The verified links (bounded by the
    * vocabulary, not the corpus) are the broadcast side of the join back:
    * occurrences are never shuffled on `mention` alone, where one hot
    * n-gram would land on a single task. Only the linked occurrences are
    * then deduplicated — a surface repeated inside one turn links once.
    */
  private def verifyAndAttach(occurrences: DataFrame, candidates: DataFrame,
      dictSurf: DataFrame, jaccardMin: Double): DataFrame = {
    val jac = udf((a: String, b: String) => TextHash.charTrigramJaccard(a, b))
    val links = candidates
      .join(broadcast(dictSurf), Seq("concept_id"))
      .withColumn("jaccard", jac(col("mention"), col("surface")))
      .filter(col("jaccard") >= jaccardMin && col("mention") =!= col("surface"))
      .select("mention", "concept_id", "jaccard")
    occurrences.select("conv_id", "turn_idx", "mention")
      .join(broadcast(links), Seq("mention"))
      .select("conv_id", "turn_idx", "mention", "concept_id", "jaccard")
      .distinct()
      .select(col("conv_id"), col("turn_idx"), col("mention"),
        col("concept_id"),
        lit(Schema.SkosCloseMatch).as("predicate_id"),
        (col("jaccard") * 0.9).as("confidence"))
  }

  /** Fuzzy link via LSH banding + trigram-Jaccard verification, run once
    * per distinct mention surface (see `verifyAndAttach`).
    */
  def linkFuzzy(mentions: DataFrame, dictionary: DataFrame, bands: Int = 4,
      jaccardMin: Double = 0.55): DataFrame = {
    val fuzzyMentions = fuzzyEligible(mentions)
    val dictSurf = dictSurfaces(dictionary)
    // compute the full signature array ONCE per row, then explode to
    // (band, sig) pairs — signatures before the explode, or every band row
    // recomputes all bands
    val dictBands = dictSurf
      .withColumn("sigs", bandSignatures(col("surface"), bands))
      .select(col("concept_id"), posexplode(col("sigs")).as(Seq("band", "sig")))
    val surfaceBands = fuzzyMentions.select("mention").distinct()
      .withColumn("sigs", bandSignatures(col("mention"), bands))
      .select(col("mention"), posexplode(col("sigs")).as(Seq("band", "sig")))
    // dictionary band rows are tiny (nConcepts × bands): broadcast them
    // explicitly so the plan never shuffles the surface side, with or
    // without AQE. The candidate dedup shuffles only the 2-column key —
    // the surface string rejoins from the broadcast dictionary afterwards.
    val candidates = surfaceBands.join(broadcast(dictBands), Seq("band", "sig"))
      .select("mention", "concept_id")
      .distinct()
    verifyAndAttach(fuzzyMentions, candidates, dictSurf, jaccardMin)
  }

  /** Fuzzy link via TF-IDF (rarest-token) blocking — the north rule's
    * second blocking family alongside the MinHash bands above. Candidate
    * generation follows the AllPairs rarest-element rule: each dictionary
    * surface registers under its LOWEST-document-frequency token (df over
    * the dictionary itself, ties on the token string), so head tokens
    * ("the", a product name shared by thousands of concepts) never become
    * hot blocking keys — the block key cardinality is bounded by the
    * dictionary, and a mention only meets the concepts whose rarest token
    * it contains. Verification is the same exact trigram-Jaccard as
    * `linkFuzzy`.
    *
    * Recall shape vs brute-force trigram-Jaccard: a true pair is missed
    * only when the mention does not contain the surface's rarest token
    * verbatim (e.g. the typo sits exactly there) — reported by the recall
    * witness in the spec, planted intact-synonym pairs are never missed.
    *
    * Scale shape: token df is an aggregation over the dictionary (small
    * relative to the corpus); the block table (one row per dictionary
    * surface) broadcasts; each distinct mention surface explodes to its
    * distinct tokens and equi-joins; verified links attach to the
    * occurrences as in `linkFuzzy` — occurrences are never shuffled by
    * the raw mention, no cartesian anywhere.
    */
  def linkFuzzyTfidf(mentions: DataFrame, dictionary: DataFrame,
      jaccardMin: Double = 0.55): DataFrame = {
    val fuzzyMentions = fuzzyEligible(mentions)
    val dictSurf = dictSurfaces(dictionary)
    val dictToks = dictSurf
      .select(col("concept_id"), col("surface"),
        explode(array_distinct(split(col("surface"), " "))).as("tok"))
      .filter(length(col("tok")) > 0)
    // df per token over the dictionary, then rarest token per surface
    // ((df asc, tok asc) min-struct — deterministic)
    val df = dictToks.groupBy("tok").agg(count(lit(1)).as("df"))
    val blocks = dictToks.join(df, "tok")
      .groupBy("concept_id", "surface")
      .agg(min(struct(col("df"), col("tok"))).as("m"))
      .select(col("concept_id"), col("m.tok").as("block"))
    val surfaceToks = fuzzyMentions.select("mention").distinct()
      .select(col("mention"),
        explode(array_distinct(split(col("mention"), " "))).as("block"))
    val candidates = surfaceToks.join(broadcast(blocks), Seq("block"))
      .select("mention", "concept_id")
      .distinct()
    verifyAndAttach(fuzzyMentions, candidates, dictSurf, jaccardMin)
  }

  /** Candidate links → SSSOM mapping rows. */
  def toSssomRows(links: DataFrame): DataFrame =
    links.select(
      concat(lit("txt:"), regexp_replace(col("mention"), " ", "_"))
        .as(Schema.SubjectId),
      col("mention").as(Schema.SubjectLabel),
      col("predicate_id"),
      lit("").as(Schema.PredicateModifier),
      col("concept_id").as(Schema.ObjectId),
      lit(Schema.JustificationLexical).as(Schema.MappingJustification),
      col("confidence"),
      col("conv_id").as(Schema.MappingSource),
      col("mention").as("match_string"))
}
