package graft.operators

import graft.functions.Fns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus deduplication operators for training-data pipelines, from exact
  * to approximate. All are set-oriented (shuffle on content keys, no
  * driver-side loops) and scale by the same pattern: derive a compact key
  * per document, shuffle on the key, resolve groups/pairs.
  */
object Dedup {

  /** Exact dedup on normalized content hash: keep the lowest id per group.
    * One hash-shuffle; the canonical first pass at 100 TB (the groupBy gets
    * map-side partial aggregation, so duplicate-heavy corpora shrink
    * before the exchange).
    */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .withColumn("fp", Fns.docFingerprint(col(textCol)))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"),
        count(lit(1)).as("n_members"))
      .withColumn("n_dups", col("n_members") - 1)

  /** Candidate near-duplicate pairs by MinHash + LSH banding:
    * shingle -> k-permutation minhash signature -> split into bands ->
    * group by (band index, band hash) -> emit intra-bucket pairs.
    * Scale path: only documents sharing a band bucket are ever paired, so
    * the quadratic blowup is confined to buckets (tune bands/rows for the
    * target similarity threshold; bandsxrows = k).
    */
  def minhashLsh(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      shingleWidth: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rows = k / bands
    val sig = docs.select(col(idCol).as("id"),
      Fns.minhashSignature(col(textCol), shingleWidth, k).as("sig"))
    val banded = sig.select(col("id"), posexplode(
      array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          xxhash64(slice(col("sig"), b * rows + 1, rows)).as("bucket"))): _*)))
      .select(col("id"), col("col.band"), col("col.bucket"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** SimHash near-dup pairs: 64-bit sketch, pairs within `maxHamming`.
    * Blocked by `maxHamming + 1` bit-span chunks of the sketch: if two
    * sketches differ in at most `maxHamming` bits, the pigeonhole
    * principle guarantees at least one chunk is bit-identical, so chunk
    * equality is a LOSSLESS candidate filter (no missed pairs) that
    * avoids the full cross-join. More chunks = shorter spans = more
    * candidate collisions; recall stays exact, cost grows — the usual
    * Hamming-LSH tradeoff, here always on the safe side.
    */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      maxHamming: Int = 3): DataFrame = {
    val chunks = (maxHamming + 1).max(2).min(32)
    val sk = docs.select(col(idCol).as("id"), Fns.simhash64(col(textCol)).as("sk"))
    val spans = (0 until chunks).map { i =>
      val start = i * 64 / chunks
      val width = (i + 1) * 64 / chunks - start
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      struct(lit(i).as("chunk"),
        shiftright(col("sk"), start).bitwiseAND(lit(mask)).as("val"))
    }
    val chunked = sk.select(col("id"), col("sk"), posexplode(array(spans: _*)))
      .select(col("id"), col("sk"), col("col.chunk"), col("col.val"))
    chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.val") === col("b.val") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        Fns.hamming64(col("a.sk"), col("b.sk")).as("hamming"))
      // filter BEFORE distinct (identical result — the predicate is a
      // pure function of the row): the chunk join emits every candidate
      // collision and the overwhelming majority fail the Hamming test,
      // so deduplicating first shuffled the whole candidate set into the
      // distinct exchange only to drop it afterwards (guide §2.3
      // "aggregate before you shuffle" — measured ~10^7 candidate rows
      // at sf0.1 vs a few hundred survivors)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard similarity for candidate pairs sharing at least
    * one shingle: explode distinct shingles, self-join on shingle,
    * |intersection| / |union| >= threshold. The shuffle key is the
    * shingle; document pairs never materialize unless they share content.
    *
    * Round-6 shape (guide §2.3/§4): the join key is the 64-bit
    * [[Fns.shingleHashes]] of the shingle — 8 bytes per joined row
    * instead of a w-word string, and one tight-loop UDF per document
    * instead of the interpreted higher-order pipeline that re-ran
    * `split` per shingle (plans/r06/dedup_ngram_jaccard_before.txt (3)).
    * Per-doc set sizes ride the exploded rows (one extra int) and fold
    * in the pair aggregate, replacing the two broadcast joins whose
    * subtrees re-ran the whole shingle pipeline twice more (before-plan
    * nodes (17)-(34)): 4 evaluations of the shingle pipeline become 1,
    * 3 aggregates become 1, 2 broadcast exchanges become 0.
    *
    * Collision bound: shingles are compared by 64-bit xxhash64, with no
    * string recheck. Equal shingles always hash equal, so a collision can
    * only ADD to a pair's intersection count — it may raise a score or
    * admit a pair, never lower a score or drop one. Treating the hash as
    * uniform, S distinct shingles across the input collide somewhere with
    * probability at most S(S-1)/2^65: about 3e-8 at S = 10^6 and 3e-4 at
    * S = 10^8. A collision adds one to `inter` for each pair of documents
    * holding the two shingles, so such a pair scores (i+1)/(u-1) instead of
    * its true i/u.
    */
  def ngramJaccard(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      shingleWidth: Int = 3, threshold: Double = 0.5): DataFrame = {
    // project the hash array ONCE (separate select), so size() and the
    // explode generator share the one UDF evaluation below them
    val hashed = docs.select(col(idCol).as("id"),
      Fns.shingleHashes(col(textCol), shingleWidth).as("hs"))
    val exploded = hashed
      .select(col("id"), size(col("hs")).as("n_sh"), explode(col("hs")).as("h"))
    exploded.as("a").join(exploded.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      // n_sh is functionally dependent on the group key: min == the value
      .agg(count(lit(1)).as("inter"),
        min(col("a.n_sh")).as("na"), min(col("b.n_sh")).as("nb"))
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double"), 4))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Resolve near-duplicate PAIRS into clusters: each doc gets the
    * minimum id reachable through the pair graph (bounded label
    * propagation, `maxIter` join rounds — diameter above that is split,
    * which is conservative for dedup). Everything stays set-oriented: one
    * self-join + aggregate per round, no driver-side graph.
    */
  def clusters(pairs: DataFrame, maxIter: Int = 5): DataFrame = {
    // undirected edge list, both directions. MATERIALIZED once
    // (localCheckpoint is both a persist and a lineage cut): every
    // propagation round joins against `edges`, and without this each of
    // the maxIter jobs re-executes the upstream pair pipeline (for
    // Jaccard pairs that is the expensive shingle self-join — measured
    // 113.9 s -> the persisted loop at sf0.1; see BENCH.md round 2).
    val edges0 = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint()
    // size-adaptive single-partition loop (the table layer's
    // LakeTable.SingleTaskRows rule, same ceiling): a SMALL pair graph
    // coalesces once, after which every round's join + aggregate +
    // convergence probe satisfies its distribution requirements via
    // SinglePartition and runs as one exchange-free single-task job —
    // the loop is scheduling-floor-bound, not data-bound, at this size.
    // The probe is LIMIT-bounded so a huge graph pays O(ceiling) to
    // answer "not small", never a full count pass over the edge list.
    val smallGraphEdges = graft.table.LakeTable.SingleTaskRows
    val small =
      edges0.limit(smallGraphEdges.toInt + 1).count() <= smallGraphEdges
    val edges = if (small) edges0.coalesce(1) else edges0
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      val viaNeighbor = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("label"), lit(false).as("_self"))
      // checkpoint each round: truncates the doubling lineage AND lets
      // the convergence probe + next round reuse the materialized result.
      // The round's OWN label rides the union with a _self flag, so the
      // aggregate computes (new label, previous label) together and the
      // convergence probe below is a filter over the checkpointed rows —
      // the per-round probe JOIN of the previous shape is gone (guide
      // §2.4: two operations keyed the same way share one pass). Every
      // id in viaNeighbor also appears in labels (edges carry both
      // directions, so each node is a src), so _prev is never null.
      // (The union re-fans to 2 partitions in the small case; coalesce
      // keeps the aggregate exchange-free.)
      val unioned = labels.select(col("id"), col("label"), lit(true).as("_self"))
        .union(viaNeighbor)
      val next = (if (small) unioned.coalesce(1) else unioned)
        .groupBy("id").agg(min("label").as("label"),
          min(when(col("_self"), col("label"))).as("_prev"))
        .localCheckpoint()
      // early exit when a full round moves no label: propagation needs
      // diameter rounds, and real near-dup graphs converge in 2-3 —
      // each skipped round saves a full join+aggregate job
      converged = next.filter(col("label") =!= col("_prev")).isEmpty
      labels = next.select(col("id"), col("label"))
      i += 1
    }
    labels.withColumnRenamed("label", "cluster_id")
  }

  /** Survivors after near-dup clustering: keep the lowest id per cluster;
    * docs that appear in no pair keep themselves.
    */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxIter: Int = 5): DataFrame = {
    val cl = clusters(pairs, maxIter)
    val losers = cl.filter(col("id") =!= col("cluster_id")).select(col("id"))
    docs.join(losers, docs(idCol) === losers("id"), "left_anti")
  }

  /** Embedding near-duplicate pairs: cosine >= threshold. Brute-force
    * within LSH buckets (random-hyperplane sign bits) so the cross-join is
    * bucket-local; `planes = 0` falls back to the full O(n^2) pair join
    * (exact — the oracle for the bucketed path). With `multiProbe` the
    * left side also probes every single-bit-flip neighbor bucket (the
    * `Ann.lshTopK` pattern), so a true pair straddling one hyperplane is
    * still found — recall against the exact path is gated in tests.
    */
  def embeddingCosine(vecs: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding", threshold: Double = 0.9,
      planes: Int = 0, seed: Long = 42L, dim: Int = 64,
      multiProbe: Boolean = true): DataFrame = {
    // per-ROW norm computed once before the pair join: the O(n²) hot path
    // then runs one dot-product loop per pair instead of the fused
    // cosine's three array loops — bit-identical results (Fns.cosineWithNorms)
    val base = vecs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("nrm", Fns.vecNorm(col("v")))
    def pairCosine: Column = round(Fns.cosineWithNorms(
      Fns.vecDot(col("a.v"), col("b.v")), col("a.nrm"), col("b.nrm")), 4)
    if (planes <= 0) {
      base.as("a").join(base.as("b"), col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          pairCosine.as("cosine"))
        .filter(col("cosine") >= threshold)
    } else {
      Ann.requireDim(vecs, vecCol, dim)
      val withKey = base.withColumn("bucket",
        Ann.hyperplaneBucket(col("v"), planes, seed, dim))
      val probed =
        if (!multiProbe) withKey
        else withKey.select(col("id"), col("v"), col("nrm"), explode(
          array((col("bucket") +: (0 until planes).map(p =>
            col("bucket").bitwiseXOR(lit(1L << p)))): _*)).as("bucket"))
      probed.as("a").join(withKey.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        pairCosine.as("cosine"))
      // filter BEFORE distinct (identical result — cosine is a pure
      // function of the pair): multi-probe duplicates and sub-threshold
      // candidates no longer ride the distinct exchange (guide §2.3)
      .filter(col("cosine") >= threshold)
      .distinct()
    }
  }
}
