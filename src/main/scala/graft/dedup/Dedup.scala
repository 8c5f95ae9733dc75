package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/**
 * Deduplication operators for web-text corpora. Shapes chosen for 10^12-doc
 * scale:
 *
 *  - exact: one hash-shuffle groupBy on sha2(text) — never groupBy raw text
 *    at scale (wide shuffle rows); the digest is the shuffle key, min(doc_id)
 *    the survivor.
 *  - MinHash+LSH near-dup: signature is map-only (codegen shim), candidate
 *    generation is an equi-join on (band_idx, band_hash) — the classic
 *    shingle->minhash->band->bucket-join plan; only bucket collisions are
 *    verified. No pairwise n^2 anywhere.
 *  - SimHash: 64-bit signature, pigeonhole blocking on 4x16-bit segments
 *    (hamming<=3 guarantees >=1 equal segment), verify by popcount.
 *  - n-gram Jaccard: exact verification on LSH candidates only.
 *  - embedding cosine: multi-band random-hyperplane LSH buckets, verify by
 *    exact cosine.
 *
 * Degenerate-bucket guards (the crawl-scale killers):
 *  - empty/near-empty texts all hash to the SAME signature (all-MaxValue
 *    minhash, simhash 0) — `minLen` drops them before any bucketing. Empty
 *    docs are exact duplicates of each other anyway; exact dedup owns them.
 *  - boilerplate-heavy corpora put millions of docs in one bucket, making the
 *    within-bucket self-join quadratic. `maxBucket` caps bucket size: buckets
 *    above the cap are excluded from candidate generation (counted via
 *    `droppedBuckets` for observability). A bucket that large is near-
 *    identical content — exact dedup (or a tighter signature) owns it; an
 *    n^2 join never does. Recall for genuine near-dups is unaffected at sane
 *    caps because a near-dup pair still collides in its other, smaller
 *    buckets.
 *  - candidate generation shuffles only (doc_id, band keys) — the 64-long
 *    signature arrays are re-joined BY ID after the bucket join, never
 *    carried through the bucket explosion.
 *
 * Every operator returns DataFrames keyed by doc ids — composable with
 * downstream keep/drop policies.
 */
object Dedup {

  /** Default minimum text length (chars) for near-dup sketching; shorter
    * texts degenerate to identical signatures. */
  val DefaultMinLen = 16

  /** Default bucket-size cap for LSH candidate generation. */
  val DefaultMaxBucket = 256

  /** Exact dedup: survivors + group stats. Output one row per distinct text:
    * (keep_id, dup_count). */
  def exact(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("text_sha"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Documents surviving exact dedup (min id per identical text). */
  def exactSurvivors(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = Window.partitionBy(sha2(col(textCol), 256)).orderBy(col(idCol))
    docs.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** MinHash signatures, map-only: (doc_id, sig). Empty/short texts are
    * dropped — they all share the all-MaxValue signature. */
  def minhashSignatures(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", shingleN: Int = 3,
                        perms: Int = 64, minLen: Int = DefaultMinLen): DataFrame =
    docs.filter(length(col(textCol)) >= minLen)
      .select(col(idCol).as("doc_id"),
        minhash(col(textCol), lit(shingleN), lit(perms)).as("sig"))

  /** Narrow LSH band rows: (doc_id, band_idx, band_hash) — the only columns
    * that ever flow through the bucket join. */
  private def bandRows(sigs: DataFrame, bands: Int): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(bandHashes(col("sig"), lit(bands))).as(Seq("band_idx", "band_hash")))

  /** Keys of buckets at or under the size cap. Same join key as the candidate
    * self-join, so the extra aggregation rides the same exchange. */
  private def cappedBuckets(rows: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame =
    rows.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__bc"))
      .filter(col("__bc") <= maxBucket).drop("__bc")

  /** Observability for the cap: one row per DROPPED bucket with its size.
    * At crawl scale, run this (cheap aggregation) and log/store the result —
    * silent truncation must never read as full coverage. */
  def droppedBuckets(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", shingleN: Int = 3,
                     perms: Int = 64, bands: Int = 16,
                     minLen: Int = DefaultMinLen,
                     maxBucket: Int = DefaultMaxBucket): DataFrame =
    bandRows(minhashSignatures(docs, idCol, textCol, shingleN, perms, minLen), bands)
      .groupBy("band_idx", "band_hash").agg(count(lit(1)).as("bucket_size"))
      .filter(col("bucket_size") > maxBucket)

  /** Candidate pairs (doc_a < doc_b) from a capped bucket self-join over
    * narrow (id, key...) rows. */
  private def bucketPairs(rows: DataFrame, keys: Seq[String], maxBucket: Int): DataFrame = {
    val pruned = rows.join(cappedBuckets(rows, keys, maxBucket), keys)
    val a = pruned.withColumnRenamed("doc_id", "doc_a")
    val b = pruned.withColumnRenamed("doc_id", "doc_b")
    a.join(b, keys)
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").dropDuplicates("doc_a", "doc_b")
  }

  /** Near-duplicate pairs with estimated Jaccard >= threshold.
    * Output: (doc_a, doc_b, jaccard_est), doc_a < doc_b. */
  def minhashLshPairs(docs: DataFrame, threshold: Double = 0.8,
                      idCol: String = "doc_id", textCol: String = "text",
                      shingleN: Int = 3, perms: Int = 64, bands: Int = 16,
                      minLen: Int = DefaultMinLen,
                      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // persisted: read by the band rows (twice inside the capped bucket join)
    // and both verify sides — without it the shingle + 64-perm hash pipeline
    // re-evaluates ~6x per action (measured on the portable variants)
    val sigs = minhashSignatures(docs, idCol, textCol, shingleN, perms, minLen)
      .persist()
    val cand = bucketPairs(bandRows(sigs, bands), Seq("band_idx", "band_hash"), maxBucket)
    // signatures re-joined BY ID — one sig row per doc, never per candidate
    val sa = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val out = cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("jaccard_est", sigOverlap(col("sig_a"), col("sig_b")))
      .filter(col("jaccard_est") >= threshold)
      .select("doc_a", "doc_b", "jaccard_est")
      .persist()
    out.count() // materialize the (small) pair set, then free the signatures
    sigs.unpersist()
    out
  }

  /** The exact-verify stage: shingle-set Jaccard over an EXPLICIT candidate
    * pair set (doc_a, doc_b). Texts are joined back by id — carried once per
    * candidate pair, never through any bucket explosion. Public so the verify
    * semantics are oracle-checkable over a deterministic candidate set
    * independent of the (non-ANSI) minhash recall stage. */
  def jaccardVerify(cand: DataFrame, docs: DataFrame, threshold: Double,
                    idCol: String = "doc_id", textCol: String = "text",
                    shingleN: Int = 3): DataFrame = {
    val texts = docs.select(col(idCol).as("id"), col(textCol).as("t"))
    cand.join(texts.withColumnRenamed("id", "doc_a").withColumnRenamed("t", "text_a"), "doc_a")
      .join(texts.withColumnRenamed("id", "doc_b").withColumnRenamed("t", "text_b"), "doc_b")
      .withColumn("jaccard", jaccard(col("text_a"), col("text_b"), lit(shingleN)))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Asymmetric containment verify over an explicit candidate pair set:
    * |shingles(a) ∩ shingles(b)| / |shingles(a)| in BOTH directions per
    * pair — the quote/boilerplate-inclusion signal symmetric Jaccard
    * misses when sizes differ (a page fully quoting a short doc scores
    * containment_ab ≈ 1 at low Jaccard). Same join shape as
    * [[jaccardVerify]] (texts carried once per candidate pair); a pair
    * keeps when EITHER direction clears `threshold`. */
  def containmentVerify(cand: DataFrame, docs: DataFrame, threshold: Double,
                        idCol: String = "doc_id", textCol: String = "text",
                        shingleN: Int = 3): DataFrame = {
    val texts = docs.select(col(idCol).as("id"), col(textCol).as("t"))
    cand.join(texts.withColumnRenamed("id", "doc_a").withColumnRenamed("t", "text_a"), "doc_a")
      .join(texts.withColumnRenamed("id", "doc_b").withColumnRenamed("t", "text_b"), "doc_b")
      .withColumn("containment_ab", containment(col("text_a"), col("text_b"), lit(shingleN)))
      .withColumn("containment_ba", containment(col("text_b"), col("text_a"), lit(shingleN)))
      .filter(col("containment_ab") >= threshold || col("containment_ba") >= threshold)
      .select("doc_a", "doc_b", "containment_ab", "containment_ba")
  }

  /** Exact n-gram Jaccard on LSH candidates (two-phase: cheap recall join,
    * exact verify needs the texts back — see jaccardVerify). */
  def ngramJaccardPairs(docs: DataFrame, threshold: Double = 0.7,
                        idCol: String = "doc_id", textCol: String = "text",
                        shingleN: Int = 3): DataFrame =
    jaccardVerify(
      minhashLshPairs(docs, threshold = threshold * 0.7, idCol, textCol, shingleN),
      docs, threshold, idCol, textCol, shingleN)

  /** SimHash near-dup pairs with hamming distance <= maxDist (default 3).
    * Blocking: 4 x 16-bit segments — any pair within hamming 3 shares at
    * least one segment (pigeonhole), so the equi-join on (seg_idx, seg_val)
    * has full recall among docs >= minLen and buckets <= maxBucket. */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text",
                   minLen: Int = DefaultMinLen,
                   maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // persisted for the same ~5x re-evaluation reason as minhashLshPairs
    val sigs = docs.filter(length(col(textCol)) >= minLen)
      .select(col(idCol).as("doc_id"), simhash(col(textCol)).as("sh"))
      .persist()
    val segs = sigs.withColumn("seg_idx", explode(sequence(lit(0), lit(3))))
      .withColumn("seg_val",
        expr("shiftrightunsigned(sh, seg_idx * 16)").bitwiseAND(lit(0xffffL)))
      .select("doc_id", "seg_idx", "seg_val")
    val cand = bucketPairs(segs, Seq("seg_idx", "seg_val"), maxBucket)
    val sa = sigs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val out = cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("hamming_dist", hamming(col("sh_a"), col("sh_b")))
      .filter(col("hamming_dist") <= maxDist)
      .select("doc_a", "doc_b", "hamming_dist")
      .persist()
    out.count() // materialize the (small) pair set, then free the signatures
    sigs.unpersist()
    out
  }

  /** Connected components over an undirected duplicate-pair edge set —
    * near-dup PAIRS are not a dedup policy until they are CLUSTERED (a~b,
    * b~c must keep one of {a,b,c}, not two). Plain min-label propagation:
    * O(diameter) lean rounds (one aggregation + one left join each — extra
    * per-round stages are pure scheduled latency at small scale and extra
    * shuffles at crawl scale). Duplicate clusters are stars and short
    * chains, so 2-3 rounds is typical; a component whose diameter exceeds
    * `maxIter` FAILS LOUDLY (IllegalStateException) rather than silently
    * returning a split cluster — raise maxIter for adversarial chain
    * topologies. Labels persist per round and unpersist as soon as
    * superseded; at crawl scale feed `edges` through a checkpoint dir to
    * truncate lineage (see Checkpoint).
    *
    * Output: (doc_id, cluster_id) for every node incident on an edge, where
    * cluster_id = min doc_id of the component — deterministic regardless of
    * partitioning or round count. */
  def connectedComponents(edges: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b", maxIter: Int = 25,
                          pointerJump: Boolean = false): DataFrame = {
    val und = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().persist()
    // init = the first propagation round for free: label = min(id, neighbours)
    // (every incident node appears as src because und carries both directions)
    var labels = und.groupBy(col("src").as("id")).agg(min(col("dst")).as("mn"))
      .select(col("id"), least(col("id"), col("mn")).as("label")).persist()
    // Each round is deliberately LEAN — one aggregation + one left join, with
    // the convergence flag computed IN-PLAN: duplicate clusters are stars and
    // short chains, so plain min-label propagation converges in ~2 rounds and
    // every extra per-round stage is pure scheduled-latency at small scale
    // and an extra shuffle at crawl scale (measured: an unconditional
    // pointer-jump join cost the dup-cluster family ~0.8 s/query).
    // `pointerJump = true` adds label'(v) = label_prev(label_after_prop(v))
    // composed into the same round — label reach roughly doubles per round,
    // O(log diameter) rounds on chain/lattice topologies (the hotspot grid)
    // at one extra join per round. Every label is a node id of the same
    // component (init and both min-folds only ever pick node ids), so the
    // jump lands inside the component and the converged fixpoint — min id
    // per component — is unchanged either way.
    var last: DataFrame = null
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val nbrMin = und.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min("label").as("nbr"))
      val next = (if (!pointerJump) {
        labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nbr"), col("label"))).as("label"),
            (col("nbr") < col("label")).as("chg"))
      } else {
        val prop = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("label").as("old"),
            least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
        val lmap = labels.select(col("id").as("__jid"), col("label").as("__jlabel"))
        prop.join(lmap, prop("label") === col("__jid"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("__jlabel"), col("label"))).as("label"),
            (least(col("label"), coalesce(col("__jlabel"), col("label")))
              < col("old")).as("chg"))
      }).persist()
      // full count, not limit(1): materializes EVERY partition of `next`
      // before the predecessor is unpersisted — an incremental limit-scan
      // would cache only the partitions it touched and later rounds would
      // recompute the rest through already-released lineage
      val changed = next.filter(col("chg")).count()
      labels.unpersist()
      if (last != null) last.unpersist()
      last = next
      // plan cut (same role as LinkGraph.cut): each round references the
      // label vector twice (join + least), so the carried LOGICAL plan
      // doubles per round — harmless for 2-3-round duplicate stars, a
      // >2 GB plan string for long-chain topologies (lattice hotspots).
      // Re-enter the persisted vector as a LogicalRDD leaf; the RDD keeps
      // its own lineage, so fault tolerance is unchanged.
      val sel = next.select("id", "label")
      labels = next.sparkSession.createDataFrame(sel.rdd, sel.schema)
      converged = changed == 0
      iter += 1
    }
    if (!converged) {
      if (last != null) last.unpersist()
      und.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — a " +
          "component's diameter exceeds the bound; raise maxIter")
    }
    // materialize the (small) labelling, then release every intermediate —
    // iterative callers otherwise accumulate cached blocks (round-2 advice
    // on knnComplete applies here too)
    val out = labels.select(col("id").as("doc_id"), col("label").as("cluster_id")).persist()
    out.count()
    if (last != null) last.unpersist()
    und.unpersist()
    out
  }

  /** Duplicate clusters with sizes and a canonical-survivor flag: the keep/
    * drop policy layer over [[connectedComponents]]. Canonical = min id. */
  def dupClusters(edges: DataFrame, aCol: String = "doc_a",
                  bCol: String = "doc_b"): DataFrame = {
    val cc = connectedComponents(edges, aCol, bCol)
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
  }

  /** Checkpoint-resumable [[connectedComponents]] (the Iterate.resumable
    * integration VERDICT r4 asked for on the iterative family): each
    * min-label propagation round materializes through Checkpoint.stage, so a
    * killed clustering job resumes from the last completed round with
    * `resumed=true` lineage instead of restarting at round 0 — on a
    * crawl-scale graph each round is a full shuffle of the label vector, so
    * redone rounds are the dominant recovery cost. `rounds` is FIXED (the
    * checkpoint layout must be deterministic to resume into); size it to
    * O(log diameter) — duplicate graphs are stars and short chains, so a
    * handful suffices — and the post-hoc convergence proof below rejects an
    * under-sized run instead of silently emitting unconverged labels. */
  def connectedComponentsResumable(spark: org.apache.spark.sql.SparkSession,
                                   edges: DataFrame, ckptDir: String,
                                   inputFingerprint: String, rounds: Int = 6,
                                   every: Int = 1, aCol: String = "doc_a",
                                   bCol: String = "doc_b"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val und = edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionByName(edges.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct().persist()
    // rounds deliberately NOT in the fingerprint: per-block stage names and
    // fingerprints already carry the iteration index, so a longer rerun
    // resumes from the shorter run's completed blocks (the resume contract)
    val fp = s"cc|$inputFingerprint"
    def propagate(labels: DataFrame): DataFrame = {
      val nbrMin = und.join(labels.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(min("label").as("nbr"))
      labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
    }
    val out = graft.engine.Iterate.resumable(
        spark, ckptDir, "cc", fp, rounds, every) {
      // init = the first propagation for free: label = min(id, neighbours)
      und.groupBy(col("src").as("id")).agg(min(col("dst")).as("mn"))
        .select(col("id"), least(col("id"), col("mn")).as("label"))
    } { (labels, _) => propagate(labels) }
    // convergence proof: one more propagation over the final labels must
    // change nothing (out is a checkpoint parquet scan, so this is cheap)
    val changed = propagate(out)
      .join(out.withColumnRenamed("label", "prev"), "id")
      .filter(col("label") < col("prev")).count()
    und.unpersist()
    require(changed == 0,
      s"connectedComponentsResumable: $changed labels still changing after " +
        s"$rounds rounds — a component's diameter exceeds the bound; raise rounds")
    out.select(col("id").as("doc_id"), col("label").as("cluster_id"))
  }

  // ---- portable (cross-engine verifiable) MinHash ---------------------------

  /** Distinct word 3-gram shingles as a Column — the SAME construction the
    * DuckDB oracle re-derives (tokens on `[^\p{L}\p{Nd}]+`, whole doc as one
    * shingle when < 3 tokens). */
  def shingleCol(text: Column, n: Int = 3): Column = {
    val toks = graft.text.TextAnalysis.tokens(text)
    when(size(toks) === 0, array().cast("array<string>"))
      .when(size(toks) < n, array(array_join(toks, " ")))
      .otherwise(array_distinct(graft.text.TextAnalysis.ngramArr(toks, n)))
  }

  /** Portable 60-bit hash: first 15 hex chars of sha256("<prefix>:<s>") as a
    * long. sha2 is available verbatim in DuckDB, so — unlike the xxh64-based
    * production sketch — every value is independently recomputable by the
    * oracle. ~20x slower per shingle than xxh64; use for verification runs,
    * `minhash`/`minhashLshPairs` for crawl-scale jobs. */
  def sha60(prefix: Column, s: Column): Column =
    graft.functions.TextFunctions.sha60(concat(prefix, lit(":"), s))

  /** Portable minhash signature TABLE (doc_id, sig) in the explode shape —
    * shingles spread across the cluster first, one codegen'd sha256 per
    * (shingle, perm), min with map-side combine, array re-assembled last.
    * Shared by [[portableMinhashLshPairs]] and [[incrementalStatus]]; docs
    * with no shingles are absent. */
  def portableSigTable(docs: DataFrame, idCol: String, textCol: String,
                       perms: Int): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("t"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), shingleCol(col("t")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), explode(sequence(lit(0), lit(perms - 1))).as("i"), col("s"))
      .select(col("doc_id"), col("i"), sha60(col("i").cast("string"), col("s")).as("h"))
      .groupBy("doc_id", "i").agg(min("h").as("mh"))
      .groupBy("doc_id")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("mh")))),
        st => st.getField("mh")).as("sig"))

  /** LSH band keys over a `sig` column: comma-joined signature slices. */
  def portableBandCol(perms: Int, bands: Int): Column = {
    require(perms % bands == 0, "perms must divide evenly into bands")
    val r = perms / bands
    transform(sequence(lit(0), lit(bands - 1)), b =>
      concat_ws(",", transform(slice(col("sig"), b * r + 1, lit(r)), x => x.cast("string"))))
  }

  /** MinHash LSH near-dup pairs with a FULLY oracle-checkable hash family:
    * same shingle -> minhash -> band -> bucket-join -> verify plan as
    * [[minhashLshPairs]], but every hash is [[sha60]] so DuckDB recomputes
    * signatures, band keys, candidates, and estimates bit-for-bit. Band key
    * is the comma-joined slice of the signature (a string equi-join key —
    * no second hash to port). Output: (doc_a, doc_b, jaccard_est). */
  def portableMinhashLshPairs(docs: DataFrame, threshold: Double = 0.5,
                              idCol: String = "doc_id", textCol: String = "text",
                              perms: Int = 16, bands: Int = 4,
                              maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(perms % bands == 0, "perms must divide evenly into bands")
    // Signature build is explode -> flat codegen'd sha256 projection ->
    // min per (doc, perm) with map-side combine -> re-assembled array
    // (portableSigTable). A per-row nested-lambda build (transform over
    // perms of array_min over shingles) runs interpreted AND gets
    // projection-collapsed into every band key and both join sides (~8x the
    // hash work — measured 580 s for the lambda form vs seconds for this
    // shape at sf0.1). Signatures are PERSISTED: the one materialized
    // artifact everything downstream re-joins by id — the checkpointed
    // table at crawl scale.
    val sigs = portableSigTable(docs, idCol, textCol, perms).persist()
    val rows = sigs.select(col("doc_id"),
      posexplode(portableBandCol(perms, bands)).as(Seq("band_idx", "band_key")))
    // same capped-bucket guard as every other LSH operator here — a
    // boilerplate mega-bucket must never go quadratic (the oracle replicates
    // the cap)
    val cand = bucketPairs(rows, Seq("band_idx", "band_key"), maxBucket)
    val sa = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val out = cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("jaccard_est",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), p => p))
          / lit(perms.toDouble))
      .filter(col("jaccard_est") >= threshold)
      .select("doc_a", "doc_b", "jaccard_est")
      .persist()
    out.count() // materialize the (small) pair set, then free the signatures
    sigs.unpersist()
    out
  }

  /** SimHash with the portable sha256 hash family: 60-bit signatures from
    * per-shingle bit votes, then the same 4-segment pigeonhole blocking and
    * bit_count hamming verify as [[simhashPairs]] — every stage (hash, vote,
    * signature, segment key, distance) independently recomputable by an ANSI
    * oracle. Shape: explode shingles -> one codegen'd sha256 per shingle ->
    * 60 conditional-sum bit votes with map-side combine -> signature long ->
    * narrow (id, seg) equi-join. Output: (doc_a, doc_b, hamming_dist). */
  def portableSimhashPairs(docs: DataFrame, maxDist: Int = 3,
                           idCol: String = "doc_id", textCol: String = "text",
                           bits: Int = 60, segs: Int = 4,
                           maxBucket: Int = DefaultMaxBucket): DataFrame = {
    require(bits % segs == 0, "bits must divide evenly into segments")
    val segBits = bits / segs
    val hx = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("t"))
      .repartition(col("doc_id"))
      .select(col("doc_id"), shingleCol(col("t")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), explode(col("sh")).as("s"))
      .select(col("doc_id"), sha60(lit("sim"), col("s")).as("h"))
    // per-bit vote: +1 if the shingle hash has the bit set, else -1;
    // signature bit j = (vote_j > 0)
    val votes = (0 until bits).map(j =>
      sum(shiftrightunsigned(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$j"))
    // persisted: read by the segment rows (twice inside the capped bucket
    // join) and both verify sides — without it the whole hash pipeline is
    // re-evaluated ~5x
    val sigs = hx.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(j =>
          when(col(s"v$j") > 0, lit(1L) * (1L << j)).otherwise(0L))
          .reduce(_ + _).as("sh"))
      .persist()
    val segRows = sigs.withColumn("seg_idx", explode(sequence(lit(0), lit(segs - 1))))
      .withColumn("seg_val",
        expr(s"shiftrightunsigned(sh, seg_idx * $segBits)")
          .bitwiseAND(lit((1L << segBits) - 1)))
      .select("doc_id", "seg_idx", "seg_val")
    val cand = bucketPairs(segRows, Seq("seg_idx", "seg_val"), maxBucket)
    val sa = sigs.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val sb = sigs.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val out = cand.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("hamming_dist", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming_dist") <= maxDist)
      .select("doc_a", "doc_b", "hamming_dist")
      .persist()
    out.count() // materialize the (small) pair set, then free the signatures
    sigs.unpersist()
    out
  }

  /** Embedding near-dup with a PORTABLE hyperplane family: Rademacher +-1
    * planes derived from sha256 (`sign(t,j,d) = +1 iff sha60("hp:t:j:d") is
    * even`) instead of the splitmix stream — the planes, projections, bucket
    * keys, and cosine verify are all independently recomputable by an ANSI
    * oracle. The plane matrix is precomputed ONCE driver-side (bands x bits x
    * dim doubles, broadcast as literals); per row the work is bands*bits
    * exact-sign dot products. Same bucket-join + capped-bucket + exact-verify
    * plan as [[embeddingNearDupPairs]]. */
  def portableEmbeddingNearDupPairs(embeddings: DataFrame, threshold: Double = 0.95,
                                    idCol: String = "vec_id", vecCol: String = "embedding",
                                    dim: Int = 64, bits: Int = 12, bands: Int = 6,
                                    maxBucket: Int = 1024): DataFrame = {
    // flattened plane matrix as ONE literal array; keys computed by a single
    // codegen StaticInvoke per row (native left-fold dots — bit-identical to
    // the oracle's ordered list_sum, ~100x an interpreted per-(t,j) lambda)
    val flat: Seq[Double] = graft.sim.VecCore.portablePlanes(dim, bits, bands)
    val base = embeddings.select(col(idCol).as("doc_id"), col(vecCol).as("v"))
    val rows = base.select(col("doc_id"),
      posexplode(graft.functions.TextFunctions.portableKeys(col("v"),
        typedLit(flat), lit(bits), lit(bands))).as(Seq("band_idx", "bucket")))
    val cand = bucketPairs(rows, Seq("band_idx", "bucket"), maxBucket)
    val va = base.select(col("doc_id").as("doc_a"), col("v").as("v_a"))
    val vb = base.select(col("doc_id").as("doc_b"), col("v").as("v_b"))
    cand.join(va, "doc_a").join(vb, "doc_b")
      .withColumn("cos", cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("cos"))
  }

  /** Embedding near-dup: cosine >= threshold via MULTI-BAND hyperplane-LSH
    * bucket join + exact cosine verify. `bands` independent hyperplane sets
    * of `bits` each: a pair is a candidate if ANY band collides — at the
    * defaults (12 bits x 6 bands), recall for cos >= 0.95 pairs is ~0.86 and
    * for cos >= 0.99 pairs > 0.999, vs ~0.3 for a single 12-bit table.
    * Scale note: `bits` should grow with corpus size (~log2(n) - 10); the
    * bucket cap keeps degenerate directions (zero vectors, dominant cluster
    * axes) from going quadratic regardless. */
  def embeddingNearDupPairs(embeddings: DataFrame, threshold: Double = 0.95,
                            idCol: String = "vec_id", vecCol: String = "embedding",
                            bits: Int = 12, bands: Int = 6,
                            maxBucket: Int = 1024): DataFrame = {
    val base = embeddings.select(col(idCol).as("doc_id"), col(vecCol).as("v"))
    val bandCols = (0 until bands).map(t => lshSigBand(col("v"), lit(bits), lit(t)))
    val rows = base.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "bucket")))
    val cand = bucketPairs(rows, Seq("band_idx", "bucket"), maxBucket)
    val va = base.select(col("doc_id").as("doc_a"), col("v").as("v_a"))
    val vb = base.select(col("doc_id").as("doc_b"), col("v").as("v_b"))
    cand.join(va, "doc_a").join(vb, "doc_b")
      .withColumn("cos", cosine(col("v_a"), col("v_b")))
      .filter(col("cos") >= threshold)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"), col("cos"))
  }

  /**
   * Cross-snapshot INCREMENTAL dedup — classify each document of a new crawl
   * against an existing base corpus without re-deduplicating the base:
   * `exact_dup` (byte-identical content already in base), `near_dup`
   * (shares an LSH band with a base doc AND exact shingle-Jaccard >=
   * threshold), else `new`. Within-snapshot duplicates are the job of the
   * batch operators; this is the per-crawl delta gate.
   *
   * Scale shape: the exact stage ships only content DIGESTS (one semi join
   * on sha256, never text); the near stage re-uses the portable minhash
   * band recall with the base side CAPPED per bucket (row_number <=
   * maxBucket, deterministic by id — a boilerplate mega-bucket in a 100 TB
   * base can never go quadratic against the delta), then verifies exact
   * Jaccard on shingle sets joined back by id. Every stage is sha256-family
   * portable, so an external engine replays the whole classification.
   *
   * @return one row per new doc: (new_id, status)
   */
  def incrementalStatus(newDocs: DataFrame, baseDocs: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text",
                        threshold: Double = 0.5, perms: Int = 16,
                        bands: Int = 4,
                        maxBucket: Int = DefaultMaxBucket): DataFrame = {
    val newD = newDocs.select(col(idCol).as("new_id"), col(textCol).as("new_text"))
    val base = baseDocs.select(col(idCol).as("base_id"), col(textCol).as("base_text"))
    val exactIds = newD
      .select(col("new_id"), sha2(col("new_text"), 256).as("digest"))
      .join(base.select(sha2(col("base_text"), 256).as("digest")).distinct(),
        Seq("digest"), "left_semi")
      .select(col("new_id")).withColumn("__exact", lit(1))
    val nb = portableSigTable(newD, "new_id", "new_text", perms)
      .select(col("doc_id").as("new_id"),
        posexplode(portableBandCol(perms, bands)).as(Seq("band_idx", "band_key")))
    val bcap = portableSigTable(base, "base_id", "base_text", perms)
      .select(col("doc_id").as("base_id"),
        posexplode(portableBandCol(perms, bands)).as(Seq("band_idx", "band_key")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("band_idx", "band_key").orderBy("base_id")))
      .filter(col("__rn") <= maxBucket).drop("__rn")
    val cand = nb.join(bcap, Seq("band_idx", "band_key"))
      .select("new_id", "base_id").distinct()
    // exact shingle-set Jaccard on the candidates, STRING shingles (the
    // portable form — hashed-set jaccard would not be oracle-replayable)
    val shN = newD.select(col("new_id"), shingleCol(col("new_text")).as("sh_a"))
    val shB = base.select(col("base_id"), shingleCol(col("base_text")).as("sh_b"))
    val inter = size(array_intersect(col("sh_a"), col("sh_b")))
    val jac = when(size(col("sh_a")) === 0 || size(col("sh_b")) === 0, lit(0.0))
      .otherwise(inter /
        (size(col("sh_a")) + size(col("sh_b")) - inter).cast("double"))
    val nearIds = cand.join(shN, "new_id").join(shB, "base_id")
      .filter(jac >= threshold)
      .select("new_id").distinct().withColumn("__near", lit(1))
    newD.select(col("new_id"))
      .join(exactIds, Seq("new_id"), "left")
      .join(nearIds, Seq("new_id"), "left")
      .select(col("new_id"),
        when(col("__exact") === 1, "exact_dup")
          .when(col("__near") === 1, "near_dup")
          .otherwise("new").as("status"))
  }
}
