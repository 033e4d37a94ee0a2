package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines. All are built from
  * shuffle-minimal primitives:
  *   - exact:       one hash-groupBy (partial-aggregate friendly);
  *   - MinHash+LSH: map-side signature computation (pure column exprs), one
  *     explode-to-bands, one groupBy per band bucket — candidate pairs never
  *     materialize the O(n²) cross product;
  *   - SimHash:     map-side 64-bit signature, bucket on rotated prefixes;
  *   - n-gram Jaccard: exact verification on LSH candidates only.
  */
object Dedup {

  import TextFunctions._

  // ---------------------------------------------------------------- exact

  /** Keep the first (min id) document per exact normalized-content
    * fingerprint. A single groupBy on a 64-bit key: at 100 TB this shuffles
    * only (hash, id) pairs, not documents. */
  def exactDuplicateGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Deduplicated view: one row per distinct content. */
  def dropExactDuplicates(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactDuplicateGroups(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  // ------------------------------------------------------------- minhash

  /** The modulus for multiply-shift minhash: 2^31-1 (Mersenne prime). All
    * products stay < 2^62, so the arithmetic is safe under Spark 4's default
    * ANSI overflow checking. */
  private val MinhashModulus = 2147483647L

  /** Deterministic universal-hash coefficients (a_i, b_i), a_i != 0 mod p.
    * Shared by the aggregate spelling below and the map-side
    * `plans.MinHashSignature` codegen expression — the two MUST stay
    * bit-identical (spec-enforced).
    *
    * `Long.MinValue.abs` is negative, which would break the
    * `a*h+b < 2^62` overflow-free contract for an unlucky seed; it maps
    * to 0 here instead, keeping the draw total for ANY seed while leaving
    * every non-MinValue draw (the entire seed-42 stream, so all persisted
    * signatures) bit-identical. */
  private[graft] def minhashCoefs(numHashes: Int): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(42)
    def nonNegative(): Long = rng.nextLong() match {
      case Long.MinValue => 0L
      case x => x.abs
    }
    Seq.fill(numHashes)((1L + nonNegative() % (MinhashModulus - 1), nonNegative() % MinhashModulus))
  }

  /** MinHash signatures as one column per hash function (`h0..h{k-1}`),
    * computed by exploding the shingle set and running k codegen'd `min`
    * aggregates over universal hashes `(a_i * xxhash64(shingle) + b_i) mod p`.
    *
    * Scale design: one real hash per shingle, k multiply-adds derived from
    * it; the explode→groupBy pipeline stays in whole-stage codegen with
    * map-side partial mins, so the shuffle carries only (id, k longs) per
    * document. (A fold with `aggregate`/`zip_with` higher-order functions is
    * interpreted, not codegen'd, and allocates two boxed k-arrays per
    * shingle — measured 8× slower at sf0.1.) */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int,
      shingleSize: Int = 3): DataFrame =
    minhashSignaturesFromShingles(shingleSets(df, idCol, textCol, shingleSize), idCol, numHashes)

  /** The distinct word-shingle sets, one row per document (`sh` column).
    * Tokenize+shingle is the most expensive map stage of the dedup pipeline;
    * computing it ONCE and sharing the frame between the signature and the
    * exact-Jaccard verify stages halves the text passes
    * (minhashNearDuplicates caches it for exactly that reason). */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, shingleSize: Int): DataFrame =
    df.withColumn("__graft_toks", tokens(normalize(col(textCol)))) // materialized: see wordShinglesFromTokens
      .select(col(idCol), array_distinct(wordShinglesFromTokens(col("__graft_toks"), shingleSize)).as("sh"))

  /** Hashed distinct word-shingle sets: `sh` is `array<long>` of raw
    * xxhash64 shingle values instead of the strings. 8-byte keys shrink the
    * cached frame and the verify join ~4× (shingles are ~20–40 byte
    * strings) and make the set ops (`array_distinct`/intersect/union)
    * primitive comparisons — at 100 TB this is the difference between
    * caching shingle TEXT and caching fixed-width keys. Hashing is one
    * codegen loop (`plans.XxHash64Array`); `minhash_sig` accepts the
    * pre-hashed array and produces identical signatures. Jaccard over
    * hashed sets equals Jaccard over the strings absent 64-bit collisions
    * (P[any collision] ≈ n²/2⁶⁵ — negligible at any real corpus size). */
  def hashedShingleSets(df: DataFrame, idCol: String, textCol: String, shingleSize: Int): DataFrame = {
    import org.apache.spark.sql.graft.ExprColumn
    // r18: one fused kernel call (plans.GramHashes) — bit-identical to
    // XxHash64Array(wordShinglesFromTokens(...)) but with zero intermediate
    // shingle strings and no interpreted transform lambda (spec-pinned)
    val hashed = ExprColumn(graft.plans.GramHashes(
      ExprColumn.expr(col("__graft_toks")), shingleSize))
    df.withColumn("__graft_toks", tokens(normalize(col(textCol)))) // materialized: HOF-lambda CSE
      .select(col(idCol), array_distinct(hashed).as("sh"))
  }

  /** Signatures from precomputed shingle sets (see `shingleSets` /
    * `hashedShingleSets` — the expression accepts both): one row
    * per input document, columns `h0..h{k-1}`.
    *
    * Computed MAP-SIDE by the `minhash_sig` codegen expression
    * (`plans.MinHashSignature`): the signature is a pure function of the
    * document's own shingle array, so no explode, no groupBy, no shuffle —
    * the whole LSH pipeline up to the bucket self-join runs in the scan
    * stage. Documents with NULL or empty shingle arrays are dropped, exactly
    * as the aggregate spelling drops them at explode. */
  def minhashSignaturesFromShingles(shingles: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    import org.apache.spark.sql.graft.ExprColumn
    val sig = ExprColumn(graft.plans.MinHashSignature(ExprColumn.expr(col("sh")), numHashes))
    // NULL signatures (null/empty shingle arrays) are dropped through the
    // generator, NOT a Filter: a `.filter(sigCol.isNotNull)` gets
    // predicate-pushed below the projection and re-evaluates the entire
    // shingle+signature expression a second time per row (verified in the
    // physical plan). explode(array_compact(array(sig))) evaluates it once,
    // and the h_i projections reference the generated attribute.
    shingles
      .select(col(idCol),
        explode(array_compact(array(sig))).as("__graft_sig"))
      .select(col(idCol) +:
        (0 until numHashes).map(i => col("__graft_sig").getItem(i).as(s"h$i")): _*)
  }

  /** The aggregate spelling of `minhashSignaturesFromShingles` — identical
    * values (explode shingles → k codegen'd `min`s per document), kept as
    * the equivalence oracle for the map-side expression and as a reference
    * for engines without expression injection. Costs one shuffle of
    * (id, k longs) per document that the expression form avoids. */
  def minhashSignaturesFromShinglesAgg(shingles: DataFrame, idCol: String, numHashes: Int): DataFrame = {
    val m = lit(MinhashModulus)
    val exploded = shingles
      .select(col(idCol), explode(col("sh")).as("__graft_sh"))
      .withColumn("__graft_h", pmod(xxhash64(col("__graft_sh")), m))
    val aggs = minhashCoefs(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * col("__graft_h") + lit(b), m)).as(s"h$i")
    }
    exploded.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Banding over a precomputed signature frame (see `minhashSignatures`). */
  def lshBucketsFromSignatures(
      sig: DataFrame,
      idCol: String,
      bands: Int,
      rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val hs = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"h$i"))
      struct(lit(b).as("band"), hash(hs: _*).cast("long").as("bucket"))
    }
    sig
      .select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Candidate near-duplicate pairs (id1 < id2) from LSH buckets — a
    * self-join restricted to bucket groups, deduplicated across bands. */
  def candidatePairs(buckets: DataFrame, idCol: String): DataFrame = {
    val a = buckets.select(col("band"), col("bucket"), col(idCol).as("id1"))
    val b = buckets.select(col("band"), col("bucket"), col(idCol).as("id2"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2")
      .distinct()
  }

  /** Verification against precomputed (ideally cached) shingle sets — the
    * two-sided join otherwise recomputes the shingle pipeline per side. */
  def verifyJaccardOnShingles(
      sh: DataFrame,
      pairs: DataFrame,
      idCol: String,
      threshold: Double): DataFrame = {
    val j = pairs
      .join(sh.withColumnRenamed(idCol, "id1").withColumnRenamed("sh", "sh1"), Seq("id1"))
      .join(sh.withColumnRenamed(idCol, "id2").withColumnRenamed("sh", "sh2"), Seq("id2"))
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
      .withColumn("uni", size(array_union(col("sh1"), col("sh2"))).cast("double"))
      .withColumn("jaccard", when(col("uni") === 0, 0.0).otherwise(col("inter") / col("uni")))
    j.filter(col("jaccard") >= threshold).select("id1", "id2", "jaccard")
  }

  /** Containment (asymmetric-Jaccard) near-duplicate pairs:
    * C(A→B) = |A∩B| / |A| over distinct word shingles — the detector for
    * SUBSET duplication (a snippet quoted inside a larger page, a wrapped
    * repost), which symmetric-Jaccard LSH structurally misses: a small doc
    * fully contained in a big one has LOW Jaccard, so minhash banding never
    * candidates it. Emits (id1, id2, c1_in_2, c2_in_1, containment =
    * max of the two) for pairs reaching `threshold` in either direction.
    *
    * Semantics are df-capped like [[graft.text.ApssJoin]]: shingles
    * occurring in more than `dfCap` documents are dropped from BOTH the
    * index and the size denominators (deterministic — the oracle replays
    * the cap), which is what bounds the inverted-index join at corpus
    * scale: candidate volume is Σ_g df(g)² over surviving shingles, never
    * all-pairs. The intersection itself is the inverted-index equi-join +
    * count pattern (unnest → equi-join → count = |A∩B|), not an
    * all-pairs `array_intersect`. */
  def containmentPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      threshold: Double = 0.9,
      dfCap: Int = 1000): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"containmentPairs: bad threshold $threshold")
    // hashed shingles: fixed-width 8-byte keys through the join
    val sh = hashedShingleSets(docs, idCol, textCol, shingleSize)
    val posts = sh.select(col(idCol).as("id"), explode(array_compact(col("sh"))).as("g"))
      .localCheckpoint(true) // feeds the df filter and both join sides
    val kept = posts
      .groupBy(col("g")).agg(count(lit(1)).cast("long").as("df_g"))
      .filter(col("df_g") <= dfCap)
    // explicit-N repartition on the join key BEFORE the pair expansion:
    // partitioning must match the OUTPUT (Σ df² candidate rows), not the
    // small posting input, and AQE's input-bytes coalescing is blind to
    // the expansion (the q115 lesson); also co-partitions both join sides.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val capped = posts.join(kept.select("g"), Seq("g"), "left_semi")
      .repartition(par, col("g"))
      .localCheckpoint(true) // consumed three times: sizes + two join sides
    val sizes = capped.groupBy(col("id")).agg(count(lit(1)).cast("long").as("n"))
    val inter = capped.select(col("g"), col("id").as("id1"))
      .join(capped.select(col("g"), col("id").as("id2")), Seq("g"))
      .filter(col("id1") < col("id2"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).cast("long").as("inter"))
    inter
      .join(sizes.select(col("id").as("id1"), col("n").as("n1")), Seq("id1"))
      .join(sizes.select(col("id").as("id2"), col("n").as("n2")), Seq("id2"))
      // exact-int / exact-int double division: IEEE-deterministic, oracle-safe
      .withColumn("c1_in_2", col("inter").cast("double") / col("n1"))
      .withColumn("c2_in_1", col("inter").cast("double") / col("n2"))
      .withColumn("containment", greatest(col("c1_in_2"), col("c2_in_1")))
      .filter(col("containment") >= threshold)
      .select(col("id1"), col("id2"), col("c1_in_2"), col("c2_in_1"), col("containment"))
  }

  /** b-bit minhash compression (Li & König 2010): keep only the low `bits`
    * bits of each of the k minhash values. At b=8 a 16-hash signature
    * shrinks from 128 to 16 bytes — the storage/shuffle win that makes
    * persisting signatures for a 100 TB corpus (incremental dedup
    * artifacts, cross-corpus screens) practical. Input is the
    * `h0..h{k-1}` frame from [[minhashSignaturesFromShingles]]; output
    * replaces them with `b0..b{k-1}`. Map-side, zero shuffle. */
  def bbitCompress(sigs: DataFrame, idCol: String, numHashes: Int, bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 32, s"bbitCompress: bits must be in [1,32]: $bits")
    val m = 1L << bits
    sigs.select(col(idCol) +:
      (0 until numHashes).map(i => (col(s"h$i") % m).as(s"b$i")): _*)
  }

  /** Jaccard estimation from b-bit signatures over candidate pairs — the
    * cheap verify stage: no shingle-set join (the expensive half of exact
    * verification), just k fixed-width equality tests per pair. A random
    * pair agrees on a b-bit value with probability 2^-b even at J=0, so
    * the matched fraction m is debiased: Ĵ = (m − 2^−b) / (1 − 2^−b)
    * (the large-universe form of Li & König eq. 3). The estimate tree is
    * fixed-order dyadic-rational arithmetic, so it is IEEE-deterministic
    * and replayable bit-for-bit by any engine.
    *
    * `pairs` carries (id1, id2); both join sides are the compressed
    * signature frame (cache it when pairs came from the same LSH pass). */
  def bbitEstimate(
      bsigs: DataFrame,
      pairs: DataFrame,
      idCol: String,
      numHashes: Int,
      bits: Int): DataFrame = {
    val bcols = (0 until numHashes).map(i => s"b$i")
    def side(tag: String) = bsigs.select(
      col(idCol).as(s"id$tag") +: bcols.map(c => col(c).as(s"${c}_$tag")): _*)
    val matches = bcols
      .map(c => when(col(s"${c}_1") === col(s"${c}_2"), 1L).otherwise(0L))
      .reduce(_ + _)
    val c = 1.0 / (1L << bits)
    pairs
      .join(side("1"), Seq("id1"))
      .join(side("2"), Seq("id2"))
      .withColumn("matches", matches)
      .withColumn("jaccard_est",
        (col("matches").cast("double") / numHashes.toDouble - lit(c)) / lit(1.0 - c))
      .select(col("id1"), col("id2"), col("matches"), col("jaccard_est"))
  }

  /** Corpus-level similarity matrix: pairwise Jaccard between document
    * GROUPS (sources, crawls, snapshots) over their united shingle sets —
    * the "how much does feed A overlap feed B" question a corpus-mixing
    * decision starts from. Two readings per pair, both exact and both
    * engine-replayable:
    *   - `matches`/`jaccard_est`: agreement of the groups' corpus-level
    *     minhash signatures (min over EVERY member document's shingles —
    *     a map-side-partial aggregation, so a 100 TB group folds to k
    *     longs without materializing its shingle set);
    *   - `inter`/`uni`/`jaccard`: exact distinct-shingle intersection via
    *     a shingle-keyed self-join (the audit path — costs a shuffle of
    *     the distinct (group, shingle) pairs).
    * Zero-intersection pairs surface with inter=0 (left join from the
    * signature matrix), never silently dropped. */
  def corpusSimilarity(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      numHashes: Int = 16,
      shingleSize: Int = 3): DataFrame = {
    // eager localCheckpoints, not cache(): both frames fan out to two
    // consumers, and a cache would leak past return (the round-5 lesson —
    // checkpointed blocks are GC-reclaimed with the frame)
    val sh = shingleSets(docs, groupCol, textCol, shingleSize).localCheckpoint()
    val sigs = minhashSignaturesFromShinglesAgg(sh, groupCol, numHashes)
    val sets = sh.select(col(groupCol), explode(col("sh")).as("__graft_sh")).distinct()
      .localCheckpoint()
    val sizes = sets.groupBy(col(groupCol)).agg(count(lit(1)).cast("long").as("sz"))
    val inter = sets.as("x")
      .join(sets.as("y"),
        col("x.__graft_sh") === col("y.__graft_sh") &&
          col(s"x.$groupCol") < col(s"y.$groupCol"))
      .groupBy(col(s"x.$groupCol").as("g1"), col(s"y.$groupCol").as("g2"))
      .agg(count(lit(1)).cast("long").as("inter"))
    val matches = (0 until numHashes)
      .map(i => when(col(s"a.h$i") === col(s"b.h$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val sigPairs = sigs.as("a")
      .join(sigs.as("b"), col(s"a.$groupCol") < col(s"b.$groupCol"))
      .select(
        col(s"a.$groupCol").as("g1"), col(s"b.$groupCol").as("g2"),
        matches.as("matches"))
    val out = sigPairs
      .join(inter, Seq("g1", "g2"), "left")
      .withColumn("inter", coalesce(col("inter"), lit(0L)))
      .join(sizes.withColumnRenamed(groupCol, "g1").withColumnRenamed("sz", "sz1"), Seq("g1"))
      .join(sizes.withColumnRenamed(groupCol, "g2").withColumnRenamed("sz", "sz2"), Seq("g2"))
      .withColumn("uni", (col("sz1") + col("sz2") - col("inter")).cast("long"))
      .select(
        col("g1"), col("g2"), col("matches"),
        (col("matches").cast("double") / numHashes.toDouble).as("jaccard_est"),
        col("inter"), col("uni"),
        (col("inter").cast("double") / col("uni").cast("double")).as("jaccard"))
    out
  }

  /** End-to-end MinHash near-dedup: LSH candidates → exact-Jaccard verify. */
  def minhashNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    // The tokenize+shingle pass is the expensive map stage: compute it ONCE
    // (in HASHED form — fixed-width keys, see hashedShingleSets), cache it,
    // and feed BOTH the signature pipeline and the exact-Jaccard verify
    // join from the cached frame. The bucket frame is also cached because
    // the candidate generation self-joins it. At cluster scale swap cache()
    // for a scratch-parquet checkpoint (a FileCache.cached entry).
    val shingles = hashedShingleSets(df, idCol, textCol, shingleSize).cache()
    val sig = minhashSignaturesFromShingles(shingles, idCol, bands * rowsPerBand)
    val buckets = lshBucketsFromSignatures(sig, idCol, bands, rowsPerBand).cache()
    val pairs = candidatePairs(buckets, idCol)
    verifyJaccardOnShingles(shingles, pairs, idCol, threshold)
  }

  /** Incremental MinHash near-dedup: candidate pairs between a NEW batch
    * and an EXISTING corpus only — never existing×existing (that corpus is
    * already deduplicated) and never new×new (run the standard pass for
    * intra-batch dups separately when needed). Returns
    * (new_id, existing_id, jaccard) rows at or above the threshold — what a
    * daily-ingest pipeline uses to drop incoming documents the corpus
    * already represents.
    *
    * Scale shape: the existing side contributes its hashed shingle sets and
    * LSH buckets — pure per-row map-side products a production pipeline
    * PERSISTS once (scratch parquet / the registry) and reuses every batch;
    * this form accepts those frames directly, so each ingest pays the map
    * stage only for the batch, and the bucket join touches only groups the
    * batch occupies. Ingest cost scales with the batch, not the corpus. */
  def minhashNearDuplicatesIncremental(
      newShingles: DataFrame, // (idCol, sh) — hashedShingleSets of the batch
      newBuckets: DataFrame, // (idCol, band, bucket)
      existingShingles: DataFrame,
      existingBuckets: DataFrame,
      idCol: String,
      threshold: Double = 0.8): DataFrame = {
    val a = newBuckets.select(col("band"), col("bucket"), col(idCol).as("new_id"))
    val b = existingBuckets.select(col("band"), col("bucket"), col(idCol).as("existing_id"))
    val pairs = a.join(b, Seq("band", "bucket"))
      .filter(col("new_id") =!= col("existing_id"))
      .select("new_id", "existing_id")
      .distinct()
    pairs
      .join(newShingles.select(col(idCol).as("new_id"), col("sh").as("__graft_sh1")), Seq("new_id"))
      .join(existingShingles.select(col(idCol).as("existing_id"), col("sh").as("__graft_sh2")),
        Seq("existing_id"))
      .withColumn("__graft_inter",
        size(array_intersect(col("__graft_sh1"), col("__graft_sh2"))).cast("double"))
      .withColumn("__graft_uni",
        size(array_union(col("__graft_sh1"), col("__graft_sh2"))).cast("double"))
      .withColumn("jaccard",
        when(col("__graft_uni") === 0, 0.0).otherwise(col("__graft_inter") / col("__graft_uni")))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "existing_id", "jaccard")
  }

  /** Convenience text-to-text form: computes both sides' shingles/buckets
    * (a production ingest persists the existing side's once — see the
    * frame-level overload). Caches the two shingle frames (each feeds both
    * its signature pipeline and the verify join); callers clear the cache
    * when done, as with `minhashNearDuplicates`. */
  def minhashNearDuplicatesAgainst(
      newDocs: DataFrame,
      existing: DataFrame,
      idCol: String,
      textCol: String,
      bands: Int = 16,
      rowsPerBand: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.8): DataFrame = {
    val newSh = hashedShingleSets(newDocs, idCol, textCol, shingleSize).cache()
    val exSh = hashedShingleSets(existing, idCol, textCol, shingleSize).cache()
    val newB = lshBucketsFromSignatures(
      minhashSignaturesFromShingles(newSh, idCol, bands * rowsPerBand), idCol, bands, rowsPerBand)
    val exB = lshBucketsFromSignatures(
      minhashSignaturesFromShingles(exSh, idCol, bands * rowsPerBand), idCol, bands, rowsPerBand)
    minhashNearDuplicatesIncremental(newSh, newB, exSh, exB, idCol, threshold)
  }

  // ------------------------------------------------- duplicate clusters

  /** Connected components over a near-duplicate pair list: the step a real
    * dedup pipeline needs AFTER LSH+verify, because near-duplication is
    * transitive in practice (A≈B, B≈C ⇒ keep one of {A,B,C}) and pairs
    * alone over-keep. Returns (id, root) with root = the component's min
    * id.
    *
    * Algorithm: min-label propagation to a fixpoint — per iteration each
    * node takes the min of its own label and its neighbors' labels (one
    * shuffle keyed by node). Iterations = O(component diameter), and
    * near-dup components are shallow (stars/short chains around a source
    * document), so the loop converges in a handful of rounds; `maxIterations`
    * bounds pathological chains.
    *
    * Execution: every round is `localCheckpoint()`ed EAGERLY — fully
    * materialized to executor storage with its lineage truncated. cache()
    * is the wrong tool here: the convergence probe (`isEmpty`) short-
    * circuits on the first matching row, leaving the cache partially
    * populated, and any unpersist of a predecessor re-exposes the whole
    * multi-round join cascade to every later action. Checkpointing makes
    * each round's job read only the previous round's blocks, keeps the
    * returned frame anchored for the caller (a scan over checkpointed
    * blocks, not a recompute), and bounds the logical plan size — the thing
    * that actually kills iterative jobs at 100 TB. Old rounds' blocks are
    * reclaimed by the ContextCleaner once unreferenced, so there is no
    * unpersist choreography for callers. The driver-side
    * loop-with-convergence-check is the standard Spark shape for iterative
    * graph passes (GraphX's Pregel does the same).
    *
    * `checkpoint` is the materialization strategy: the default
    * `localCheckpoint()` stores blocks in executor storage — right for a
    * single-job run. On a shared 100 TB cluster where executors can be
    * lost (dynamic allocation, spot nodes), pass a DURABLE checkpointer
    * instead — scratch parquet survives executor loss with the same
    * lineage-truncation contract. Each call MUST get a fresh path (earlier
    * rounds' frames still reference theirs lazily):
    * `val n = new java.util.concurrent.atomic.AtomicInteger
    *  Dedup.duplicateClusters(pairs, checkpoint =
    *    df => FileCache.cached(spark, scratch, s"cc_${n.incrementAndGet()}")(df))` */
  def duplicateClusters(
      pairs: DataFrame,
      maxIterations: Int = 20,
      checkpoint: DataFrame => DataFrame = null): DataFrame = {
    // null checkpoint = the default CheckpointFresh strategy, where the
    // convergence count can RIDE the checkpoint's materialization pass
    // (withFlagCount) instead of costing a filter+isEmpty job per
    // iteration (r18 opt; the r16 fusion pattern). A caller-supplied
    // durable checkpointer keeps the explicit probe — its materialization
    // is opaque to us.
    val fused = checkpoint == null
    val ckpt: DataFrame => DataFrame =
      if (fused) org.apache.spark.sql.graft.CheckpointFresh.apply else checkpoint
    // Materialize the pairs input once: it is consumed twice to build the
    // symmetric edge set, and upstream it is typically an expensive LSH
    // pipeline that must not run per consumer.
    val p = ckpt(pairs.select(col("id1"), col("id2")))
    val edges = ckpt(
      p.select(col("id1").as("a"), col("id2").as("b"))
        .union(p.select(col("id2").as("a"), col("id1").as("b")))
        .distinct())
    var labels = ckpt(
      edges.select(col("a").as("id")).distinct()
        .withColumn("root", col("id")))
    var converged = false
    var it = 0
    while (!converged && it < maxIterations) {
      // iteration 1 is the identity round: root(b) = b, so the edge×labels
      // join degenerates to min(b) per a (r18 opt: guide §2.4; exact)
      val neighborMin =
        if (it == 0)
          edges.groupBy(col("a")).agg(min(col("b")).as("__graft_nroot"))
        else edges
          .join(labels, edges("b") === labels("id"))
          .groupBy(col("a"))
          .agg(min(col("root")).as("__graft_nroot"))
      // neighbor-min step, carrying the previous root for the convergence
      // check (no extra join)
      val stepped = labels
        .withColumnRenamed("root", "__graft_prev")
        .join(neighborMin, col("id") === neighborMin("a"), "left")
        .select(
          col("id"),
          least(col("__graft_prev"), coalesce(col("__graft_nroot"), col("__graft_prev"))).as("root"),
          col("__graft_prev"))
      // pointer jumping: root := root's root — halves the remaining path
      // per iteration, so chains converge in O(log diameter) rounds, not
      // O(diameter) (every root IS a node id, so the self-join hits)
      val ptr = stepped.select(col("id").as("__graft_rid"), col("root").as("__graft_rroot"))
      val jumped = stepped
        .join(ptr, col("root") === col("__graft_rid"), "left")
        .select(
          col("id"),
          least(col("root"), coalesce(col("__graft_rroot"), col("root"))).as("root"),
          col("__graft_prev"))
      if (fused) {
        val (updated, _, changed) = org.apache.spark.sql.graft.CheckpointFresh.withFlagCount(
          jumped.select(col("id"), col("root"),
            (col("root") =!= col("__graft_prev")).as("__graft_chg")), "__graft_chg")
        converged = changed == 0L
        labels = updated.select(col("id"), col("root"))
      } else {
        val updated = ckpt(jumped)
        converged = updated.filter(col("root") =!= col("__graft_prev")).isEmpty
        labels = updated.select(col("id"), col("root"))
      }
      it += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"duplicateClusters stopped at maxIterations=$maxIterations without converging; " +
          "components may carry non-minimal roots — raise maxIterations for deep chains")
    labels
  }

  /** INCREMENTAL connected-components maintenance: fold a new batch of
    * pairs into a persisted (id, root) component artifact WITHOUT
    * re-clustering the corpus — the operation a 100 TB dedup index needs
    * per ingest, where full recompute is the thing being avoided.
    *
    * Correctness shape: only components TOUCHED by the batch can change.
    * Members of touched components enter a small local graph as star
    * edges to their old root (stars preserve membership; the min label of
    * a merged component is the min over the union, exactly what a full
    * recompute would assign — roots are min ids), the new pairs stitch
    * across, and [[duplicateClusters]] runs on that delta-sized graph
    * alone. Untouched components pass through by subtraction. The result
    * is EXACTLY the full recompute over old∪new edges (the q253 oracle
    * states it as such), in work proportional to the affected region.
    *
    * `existing` must be a (id, root) frame with min-id roots (the
    * [[duplicateClusters]] output contract); new nodes unseen by
    * `existing` are handled by the local graph. */
  def incrementalClusters(
      existing: DataFrame,
      newPairs: DataFrame,
      maxIterations: Int = 20,
      // null = CheckpointFresh, and the inner duplicateClusters fuses its
      // convergence count into the checkpoint (see duplicateClusters)
      checkpointOrNull: DataFrame => DataFrame = null): DataFrame = {
    val checkpoint: DataFrame => DataFrame =
      if (checkpointOrNull == null) org.apache.spark.sql.graft.CheckpointFresh.apply
      else checkpointOrNull
    val p = checkpoint(newPairs.select(col("id1"), col("id2")))
    val endpoints = p.select(col("id1").as("id"))
      .union(p.select(col("id2").as("id"))).distinct()
    val ex = checkpoint(existing.select(col("id"), col("root")))
    // roots of every component the batch touches — delta-sized
    val touchedRoots = checkpoint(
      ex.join(endpoints, Seq("id"), "left_semi").select(col("root")).distinct())
    val members = ex.join(touchedRoots, Seq("root"), "left_semi")
    // star edges (member, old root) keep each touched component connected
    // inside the local graph; self-loops of the roots are harmless
    val localPairs = p.unionByName(
      members.select(col("id").as("id1"), col("root").as("id2")))
    val reclustered = duplicateClusters(localPairs, maxIterations, checkpointOrNull)
    val untouched = ex.join(touchedRoots, Seq("root"), "left_anti")
      .select(col("id"), col("root"))
    untouched.unionByName(reclustered.select(col("id"), col("root")))
  }

  /** Deduplicated view via clustering: drop every document that is in a
    * near-dup component but is not its min-id representative. */
  def dropNearDuplicates(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val losers = duplicateClusters(pairs)
      .filter(col("id") =!= col("root"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware near-dup resolution: within each component keep the
    * HIGHEST-`scoreCol` document (ties → smallest id), not the arbitrary
    * min-id one — what a real pipeline wants when duplicates differ in
    * quality (truncation, boilerplate, decoding damage). One join of the
    * component labels onto the scores and one `max_by` per root; documents
    * outside every component pass through untouched. */
  def dropNearDuplicatesKeepBest(
      df: DataFrame,
      pairs: DataFrame,
      idCol: String,
      scoreCol: String): DataFrame = {
    // cached: self-joined below (max per root, then losers), and df's
    // score projection must not re-run per consumer
    val scored = duplicateClusters(pairs)
      .join(df.select(col(idCol).as("id"), col(scoreCol).as("__graft_score")), Seq("id"))
      .cache()
    // max score per root, then min id among the max-score members — two
    // small aggregates instead of max_by(struct(score, -id)), which would
    // restrict ids to numeric types (negation) where every sibling dedup
    // API accepts any orderable id
    val best = scored
      .groupBy(col("root"))
      .agg(max(col("__graft_score")).as("__graft_best"))
    val keep = scored
      .join(best, Seq("root"))
      .filter(col("__graft_score") === col("__graft_best"))
      .groupBy(col("root"))
      .agg(min(col("id")).as("__graft_keep"))
    // eager checkpoint materializes the whole keep-best DAG (the only
    // consumer of `scored`) so the cache can be dropped before returning —
    // a long-lived session must not accumulate one pinned frame per call
    val losers = scored
      .join(keep, Seq("root"))
      .filter(col("id") =!= col("__graft_keep"))
      .select(col("id").as(idCol))
      .localCheckpoint(true)
    scored.unpersist()
    df.join(losers, Seq(idCol), "left_anti")
  }

  // ---------------------------------------------------- line dedup

  /** Cross-corpus line deduplication (C4-style "remove repeated lines"):
    * split every document on `sep`, keep each distinct line only at its
    * globally FIRST occurrence (min (id, position) lexicographically),
    * drop it everywhere else, and reassemble documents in original line
    * order. Documents whose EVERY line was seen earlier are dropped from
    * the output (no empty-text row; spec-pinned), and only (idCol,
    * textCol) survive — left-join the result onto the corpus to retain
    * other columns or represent fully-deduplicated docs explicitly.
    *
    * Scale design: explode → one groupBy keyed by the line to find the
    * first owner (map-side partials; hot boilerplate lines are absorbed by
    * the partials), an equi-join back on the line key, and one groupBy per
    * document to reassemble — the same three-exchange shape C4 runs at web
    * scale. The join carries (line, first-owner) pairs only. */
  def dropRepeatedLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n"): DataFrame = {
    val lines = df.select(
      col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__graft_pos", "__graft_line")))
    val firstOwner = lines
      .groupBy(col("__graft_line"))
      .agg(min(struct(col(idCol).as("id"), col("__graft_pos").as("pos"))).as("__graft_first"))
    lines
      .join(firstOwner, Seq("__graft_line"))
      .filter(col(idCol) === col("__graft_first.id") && col("__graft_pos") === col("__graft_first.pos"))
      .groupBy(col(idCol))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__graft_pos"), col("__graft_line")))),
          s => s.getField("__graft_line")), sep).as(textCol))
  }

  // ------------------------------------------------- decontamination

  /** Benchmark decontamination: for every corpus document, the number of
    * DISTINCT word n-grams it shares with a benchmark/eval set — the
    * standard "n-gram overlap" contamination check run before training.
    * Returns (idCol, n_hits) for documents with >= minHits overlapping
    * n-grams; drop or audit those before training.
    *
    * Scale design: benchmark sets are eval suites — thousands of documents
    * against a 100 TB corpus — so the distinct benchmark n-gram set is
    * BROADCAST and the corpus side never shuffles raw n-grams: explode →
    * broadcast-hash semi-side join → one groupBy keyed by doc id with
    * map-side partials. Both sides n-gram via the same
    * normalize+tokenize+shingle pipeline as the dedup family. */
  def ngramOverlap(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minHits: Long = 1L): DataFrame = {
    // n-grams travel as 8-byte xxhash64 keys (the same hashedShingleSets
    // construction the minhash pipeline uses — one shared implementation,
    // so the hashing/normalization can never drift between the two): the
    // broadcast benchmark set and the corpus explode shrink ~4× vs n-gram
    // strings; overlap counts are exact absent 64-bit collisions.
    // explode over array_compact(sh), NOT the bare sh attribute:
    // InferFiltersFromGenerate adds a `size(sh) > 0` filter below an
    // explode of an ATTRIBUTE, and predicate pushdown then inlines sh's
    // full shingle-pipeline definition into that filter — with the HOF
    // lambda re-evaluating the tokenizer per element (measured 60× slower
    // at sf0.1). The rule skips non-attribute children (SPARK-36715), and
    // array_compact over the attribute is free (sh has no null elements).
    def grams(df: DataFrame) =
      hashedShingleSets(df, idCol, textCol, n)
        .select(col(idCol), explode(array_compact(col("sh"))).as("__graft_ng"))
    val benchGrams = grams(benchmark).select(col("__graft_ng")).distinct()
    grams(corpus)
      .join(broadcast(benchGrams), Seq("__graft_ng"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits")) // corpus grams are per-doc distinct
      .filter(col("n_hits") >= minHits)
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash of the token multiset: per bit position, sum +1/-1 over
    * token hashes, set the bit if the sum is positive.
    *
    * Computed MAP-SIDE by the `simhash64` codegen expression
    * (`plans.SimHash64`) — the signature is a pure function of the
    * document's own token array, so no explode, no groupBy, no shuffle
    * (the aggregate spelling shuffled (id, token-hash) rows into 64
    * conditional sums). Empty documents are dropped through the generator,
    * exactly as the aggregate form drops them at explode — and for the same
    * reason as minhash: a Filter on the signature would be predicate-pushed
    * below the projection and re-evaluate the expression per row. */
  /** Exact-substring duplicate-span removal (the distributed approximation
    * of Lee et al. 2022 "Deduplicating Training Data Makes Language Models
    * Better", which uses a suffix array single-node): every n-token window
    * whose content occurs MORE THAN ONCE in the corpus — across documents
    * or repeated within one — is a duplicate span; all tokens covered by
    * any flagged window are removed and the remaining tokens rejoined.
    * Documents with fewer than n tokens contribute no windows and are
    * never touched.
    *
    * Scale shape (the q81 line-dedup profile, linear in corpus size):
    * posexplode the n-token windows, groupBy their xxhash64 — the raw
    * n-gram STRINGS are dropped before any shuffle, only (id, pos, hash)
    * rows move — join back the >1-count hashes, expand flagged windows to
    * covered token positions, anti-join the token stream, and one groupBy
    * rebuilds each document. Window identity is the 64-bit content hash:
    * a collision could over-remove a span (probability ~#windows²/2⁶⁵;
    * negligible at any corpus size a 64-bit key serves).
    *
    * Returns one row per input document:
    * (idCol, n_dup_windows, cleaned_text). */
  def removeDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 8): DataFrame = {
    require(n >= 1, s"removeDuplicateSpans: window size $n must be >= 1")
    val toked = df.select(col(idCol), tokens(col(textCol)).as("__graft_toks"))
    // window identity is a rolling 64-bit hash computed MAP-SIDE by the
    // window_hash64 codegen expression (plans.WindowHash64): O(L) per
    // document, no window strings ever materialize — the string spelling
    // (n element_ats + concat per position, interpreted) was O(L·n) and
    // dominated the operator's runtime. Short documents (< n tokens) yield
    // NULL and drop through the generator; flagging is identical to
    // grouping raw window strings absent a 2⁻⁶⁴ collision (spec-enforced).
    val winHashes = {
      import org.apache.spark.sql.graft.ExprColumn
      ExprColumn(graft.plans.WindowHash64(ExprColumn.expr(col("__graft_toks")), n))
    }
    val wins = toked
      .select(col(idCol), posexplode(winHashes).as(Seq("__graft_pos", "__graft_h")))
    val dupHashes = wins
      .groupBy(col("__graft_h"))
      .agg(count(lit(1)).as("__graft_c"))
      .filter(col("__graft_c") > 1)
      .select(col("__graft_h"))
    val flagged = wins.join(dupHashes, Seq("__graft_h"))
      .select(col(idCol), col("__graft_pos"))
    val covered = flagged
      .select(col(idCol),
        explode(sequence(col("__graft_pos"), col("__graft_pos") + (n - 1))).as("__graft_cpos"))
      .distinct()
    // array_compact: semantic no-op (tokens() yields no null elements, so
    // positions are unchanged) that stops InferFiltersFromGenerate from
    // inlining the tokenize subtree into a pushed-down filter (q78 trap)
    val tokenStream = toked.select(
      col(idCol), posexplode(array_compact(col("__graft_toks"))).as(Seq("__graft_tpos", "__graft_tok")))
    val kept = tokenStream.join(
      covered,
      tokenStream(idCol) === covered(idCol) &&
        col("__graft_tpos") === col("__graft_cpos"),
      "left_anti")
    val rebuilt = kept
      .groupBy(col(idCol))
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__graft_tpos"), col("__graft_tok")))),
          s => s.getField("__graft_tok")), " ").as("cleaned_text"))
    val counts = flagged.groupBy(col(idCol)).agg(count(lit(1)).as("n_dup_windows"))
    df.select(col(idCol))
      .join(rebuilt, Seq(idCol), "left")
      .join(counts, Seq(idCol), "left")
      .na.fill(0L, Seq("n_dup_windows"))
      .na.fill("", Seq("cleaned_text"))
      .select(col(idCol), col("n_dup_windows"), col("cleaned_text"))
  }

  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graft.ExprColumn
    val sig = ExprColumn(graft.plans.SimHash64(
      ExprColumn.expr(tokens(normalize(col(textCol))))))
    df.select(col(idCol), explode(array_compact(array(sig))).as("simhash"))
  }

  /** The aggregate spelling of `simhash` — identical values, kept as the
    * equivalence oracle for the map-side expression. */
  def simhashAgg(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(normalize(col(textCol)))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val sums = toks.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64)
      .map(j => when(col(s"b$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L)))
      .reduce(_.bitwiseOR(_))
    sums.select(col(idCol), sig.as("simhash"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs with Hamming distance <= maxDistance, using the
    * standard rotate-and-block trick: split the 64 bits into
    * (maxDistance+1) blocks; any pair within distance d must share at least
    * one block exactly — bucket on each block, verify distance in-bucket. */
  def simhashNearDuplicates(df: DataFrame, idCol: String, textCol: String, maxDistance: Int = 3): DataFrame = {
    val sig = simhash(df, idCol, textCol).cache() // self-joined below: compute once
    val blocks = maxDistance + 1
    val width = 64 / blocks
    val blockCols = (0 until blocks).map { b =>
      struct(lit(b).as("blk"), shiftright(col("simhash"), b * width).bitwiseAND((1L << width) - 1).as("key"))
    }
    val buckets = sig.select(col(idCol), col("simhash"), explode(array(blockCols: _*)).as("bb"))
      .select(col(idCol), col("simhash"), col("bb.blk").as("blk"), col("bb.key").as("key"))
    val a = buckets.select(col("blk"), col("key"), col(idCol).as("id1"), col("simhash").as("s1"))
    val b = buckets.select(col("blk"), col("key"), col(idCol).as("id2"), col("simhash").as("s2"))
    a.join(b, Seq("blk", "key"))
      .filter(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), hammingDistance(col("s1"), col("s2")).as("distance"))
      .distinct()
      .filter(col("distance") <= maxDistance)
  }

  // ---------------------------------------------------- bloom-filter screen

  /** Build a Bloom filter over the exact-content fingerprints
    * (`xxhash64(normalize(text))`) of a corpus — the persistable "seen set"
    * artifact for incremental exact dedup. One zero-shuffle aggregation
    * pass: each task folds its partition into a local bit array, partials
    * OR-merge, numBits/8 bytes per partition cross the wire (a `distinct`
    * would shuffle every key). Size numBits ≈ 10–15 bits per expected key
    * for ~1% false positives with k=5. Past the 2^33-bit single-buffer cap
    * (`BloomHash.requireShape` — 1 GiB, ~8·10⁸ keys at 10 bits each) shard
    * the corpus and keep one filter per shard; a batch probes the shard
    * filters in sequence, still map-side. */
  /** A built Bloom filter plus the probe parameter it was built with.
    * `numHashFuncs` travels WITH the bits: probing with a different k than
    * the build silently manufactures false negatives (bits for probe
    * positions the build never set), which would break `bloomScreen`'s
    * exactness contract — so the artifact is the unit of persistence, never
    * a bare bit array. (numBits needs no carrying: the probe mask derives
    * from `bits.length`.) */
  case class BloomArtifact(bits: Array[Long], numHashFuncs: Int)

  def buildTextBloom(
      df: DataFrame,
      textCol: String,
      numBits: Long = 1L << 22,
      numHashFuncs: Int = 5): BloomArtifact = {
    import org.apache.spark.sql.graft.ExprColumn
    val agg = graft.plans.BloomBuildAgg(
      ExprColumn.expr(fingerprint(col(textCol))), numBits, numHashFuncs)
    val row = df.agg(ExprColumn(agg.toAggregateExpression()).as("bits")).head()
    BloomArtifact(row.getSeq[Long](0).toArray, numHashFuncs)
  }

  /** Exact-dedup screen of a new batch against an existing corpus: returns
    * the batch rows whose normalized text does NOT already occur in
    * `existing`. EXACT semantics — the Bloom filter is only a prefilter;
    * every Bloom-positive is verified against the real key set, so false
    * positives cost a lookup, never a wrongly-dropped row (and false
    * negatives cannot happen: the probe and build derive identical bit
    * positions, spec-enforced).
    *
    * Scale shape (the C4/CCNet ingest pattern): the existing corpus is
    * summarized ONCE into a fixed-size bit array (`buildTextBloom`, or a
    * persisted filter passed via `prebuilt`) — the 100 TB side is never
    * shuffled. The batch is filtered map-side by the Bloom probe; only the
    * surviving candidates (≈ true duplicates + fpp·|batch|) drive the
    * verification joins, and both joins broadcast the candidate side, so
    * the only full scans are one pass of `existing` per ingest and two of
    * the (small) batch.
    *
    * Same hash-identity contract as `dropExactDuplicates`: "duplicate"
    * means equal `xxhash64(normalize(text))`, identical to equal normalized
    * text absent a 2⁻⁶⁴ collision. */
  def bloomScreen(
      newBatch: DataFrame,
      existing: DataFrame,
      idCol: String,
      textCol: String,
      numBits: Long = 1L << 22,
      numHashFuncs: Int = 5,
      prebuilt: Option[BloomArtifact] = None): DataFrame = {
    import org.apache.spark.sql.graft.ExprColumn
    // a prebuilt artifact brings its OWN k — numBits/numHashFuncs are
    // build parameters, ignored when the filter already exists
    val art = prebuilt.getOrElse(buildTextBloom(existing, textCol, numBits, numHashFuncs))
    val bits = art.bits
    val k = art.numHashFuncs
    // Bloom-positive batch keys. The when/array_compact/explode spelling
    // (instead of .filter on the projected key) keeps the fingerprint
    // pipeline evaluated ONCE: a filter on a projected column is pushed
    // below the projection with the column's definition inlined and paid
    // a second time; a generator is not a filter-pushdown target, and
    // array_compact's non-attribute child suppresses
    // InferFiltersFromGenerate (SPARK-36715).
    val candidates = newBatch
      .select(fingerprint(col(textCol)).as("__graft_k"))
      .select(explode(array_compact(array(when(
        ExprColumn(graft.plans.BloomContains(
          ExprColumn.expr(col("__graft_k")), bits, k)),
        col("__graft_k"))))).as("__graft_k"))
      .distinct()
    // confirm which candidates really occur in `existing`: one scan of the
    // corpus with the candidate set broadcast — output is at most the
    // candidate set, so the second broadcast (into the anti join) is safe
    val confirmed = existing
      .select(fingerprint(col(textCol)).as("__graft_k"))
      .join(broadcast(candidates), Seq("__graft_k"), "left_semi")
      .distinct()
    newBatch
      .withColumn("__graft_k", fingerprint(col(textCol)))
      .join(broadcast(confirmed), Seq("__graft_k"), "left_anti")
      .drop("__graft_k")
  }

  /** Corpus snapshot diff: per id, `added` / `removed` / `changed` /
    * `unchanged` between two corpus versions — the refresh-audit primitive
    * behind incremental re-processing (only added+changed re-enter the
    * pipeline). Contents are compared as `xxhash64(content)` so the full
    * outer join shuffles 8-byte hashes, never document bodies (a hash
    * collision mislabels a changed doc `unchanged` with probability
    * ~2⁻⁶⁴ — the standard content-hash trade). */
  def corpusDiff(
      oldCorpus: DataFrame,
      newCorpus: DataFrame,
      idCol: String,
      contentCol: String): DataFrame = {
    val o = oldCorpus.select(
      col(idCol).as("__graft_id"), xxhash64(col(contentCol)).as("__graft_old"))
    val n = newCorpus.select(
      col(idCol).as("__graft_id"), xxhash64(col(contentCol)).as("__graft_new"))
    o.join(n, Seq("__graft_id"), "full_outer")
      .select(
        col("__graft_id").as(idCol),
        when(col("__graft_old").isNull, "added")
          .when(col("__graft_new").isNull, "removed")
          .when(col("__graft_old") === col("__graft_new"), "unchanged")
          .otherwise("changed")
          .as("status"))
  }

  /** Edit-distance near-duplicate pairs with blocking: candidate pairs come
    * ONLY from equal `blockCols` values (plus the id1 < id2 half-matrix
    * cut), then each candidate is verified with a codegen'd
    * `levenshtein(s1, s2) <= maxDistance`.
    *
    * The record-linkage classic for short strings (entity names, titles)
    * where shingle-based MinHash is too coarse. Blocking is what makes it
    * scale: the self-join shuffles on the block key, so work is
    * sum-of-squares over BLOCK sizes, never corpus²; callers pick blocks
    * that bound the largest group (brand+length here, phonetic keys or
    * sorted-neighborhood windows in the wild). An unblocked call is
    * refused rather than silently quadratic.
    *
    * Completeness caveat (documented, inherent to blocking): a true
    * near-pair in different blocks is missed — e.g. a length-changing edit
    * when blocking on length. Recall/precision of the BLOCKED result
    * against exhaustive pairs is the spec's job; the operator's contract
    * is exactness GIVEN the blocking. */
  def editDistanceNearDuplicates(
      df: DataFrame,
      idCol: String,
      strCol: String,
      blockCols: Seq[String],
      maxDistance: Int): DataFrame = {
    require(blockCols.nonEmpty,
      "editDistanceNearDuplicates requires blocking columns (unblocked is corpus-quadratic)")
    require(maxDistance >= 0, s"maxDistance must be >= 0, got $maxDistance")
    // Spread the PROBE side by block key before the pair expansion: the
    // output is quadratic in block size while the input is linear, so a
    // scan with few partitions (one small file, here) would otherwise run
    // the whole expansion + DP verification on one core — the input
    // shuffle is noise next to the pairs it parallelizes. The partition
    // count is EXPLICIT: AQE sizes coalescing by the shuffle's input
    // bytes, blind to the expansion, and would fold a small input back
    // into one partition (explicit-N repartitions are exempt).
    val a = df
      .repartition(df.sparkSession.sessionState.conf.numShufflePartitions, blockCols.map(col): _*)
      .select(
        (blockCols.map(col) :+ col(idCol).as("id1")) :+ col(strCol).as("__graft_s1"): _*)
    val b = df.select(
      (blockCols.map(col) :+ col(idCol).as("id2")) :+ col(strCol).as("__graft_s2"): _*)
    // explode-then-filter instead of project-then-filter: a filter on a
    // projected distance column is pushed below the projection with the
    // levenshtein inlined, and each candidate pair would pay the O(len²)
    // DP twice. The filter here references the
    // GENERATOR's output attribute, which no pushdown rule crosses, so the
    // distance is computed exactly once per pair (plan-guarded in
    // SketchSpec).
    val d = levenshtein(col("__graft_s1"), col("__graft_s2"))
    a.join(b, blockCols)
      .filter(col("id1") < col("id2"))
      .select(
        explode(array(struct(col("id1"), col("id2"), d.as("distance")))).as("__graft_r"))
      .select(col("__graft_r.id1"), col("__graft_r.id2"), col("__graft_r.distance"))
      .filter(col("distance") <= maxDistance)
  }

  /** Edit-distance similarity JOIN via PREFIX-filtered positional q-grams —
    * the ED-Join scheme (Xiao/Wang/Lin VLDB'08), the UNBLOCKED counterpart
    * of [[editDistanceNearDuplicates]]: no blocking key to choose and NO
    * false negatives. Soundness by pigeonhole: d edits destroy at most q·d
    * of a string's q-grams, so under ANY global total order of grams two
    * strings within distance d must have a MATCHED gram occurrence whose
    * side in the first string sits among that string's q·d+1 first-in-
    * order occurrences (ordering by (corpus df asc, gram, position): at
    * most q·d occurrences are unmatched, and everything ordered before the
    * first matched occurrence of the minimal matched gram is unmatched).
    * The candidate join is therefore ASYMMETRIC — each string's rare-gram
    * PREFIX probes the FULL gram index (a both-prefix join can miss the
    * pair when duplicate grams push the partner occurrence out of the
    * other prefix) — and stays small because prefix grams are by
    * construction the corpus-RAREST: the "e "-style stopgrams whose df²
    * volume kills a count-filter join on narrow alphabets never enter the
    * probe side, and their full-index partners are only ever joined
    * against rare probes. Matched occurrences must align within ±d
    * positions and lengths within ±d — both sound — and every surviving
    * candidate pair is levenshtein-verified (the DP rides a generator
    * output attribute so it runs once per pair — the editDistance op's
    * plan guard).
    *
    * Domain contract: strings shorter than q·(d+1) cannot carry a full
    * prefix and are EXCLUDED — the caller routes micro-strings to an exact
    * groupBy. Scale shape: one df aggregate, one per-string top-(q·d+1)
    * window, an inverted-index join on the RAREST grams only, distinct
    * pairs, then the verify join. */
  def qgramEditJoin(
      df: DataFrame,
      idCol: String,
      strCol: String,
      q: Int,
      maxDistance: Int): DataFrame = {
    require(q >= 1, s"qgramEditJoin: q $q must be >= 1")
    require(maxDistance >= 0, s"qgramEditJoin: maxDistance $maxDistance must be >= 0")
    import org.apache.spark.sql.expressions.Window
    val minLen = q * (maxDistance + 1)
    val prefixSize = q * maxDistance + 1
    val base = df
      .select(col(idCol).as("__graft_id"), col(strCol).as("__graft_s"))
      .filter(length(col("__graft_s")) >= minLen)
      .localCheckpoint(true) // grams + the verify join (twice)
    val grams = base.select(col("__graft_id"), length(col("__graft_s")).as("__graft_len"),
      explode(expr(s"transform(sequence(1, length(__graft_s) - ${q - 1}), " +
        s"i -> struct(substring(__graft_s, i, $q) AS g, i AS p))")).as("__graft_e"))
      .select(col("__graft_id"), col("__graft_len"),
        col("__graft_e.g").as("g"), col("__graft_e.p").as("p"))
      .localCheckpoint(true) // df counts + the prefix selection
    val dfCounts = grams.groupBy("g").agg(count(lit(1)).as("__graft_df"))
    val w = Window.partitionBy("__graft_id")
      .orderBy(col("__graft_df"), col("g"), col("p"))
    val prefix = grams.join(dfCounts, Seq("g"))
      .withColumn("__graft_rk", row_number().over(w))
      .filter(col("__graft_rk") <= prefixSize)
      .select(col("g"), col("__graft_id"), col("__graft_len"), col("p"))
    val par = df.sparkSession.sparkContext.defaultParallelism
    val probe = prefix.repartition(par, col("g")).localCheckpoint(true)
    val full = grams.repartition(par, col("g"))
    val candidates = probe.select(col("g"), col("__graft_id").as("ida"),
        col("__graft_len").as("la"), col("p").as("pa"))
      .join(full.select(col("g"), col("__graft_id").as("idb"),
        col("__graft_len").as("lb"), col("p").as("pb")), Seq("g"))
      .filter(col("ida") =!= col("idb") &&
        abs(col("la") - col("lb")) <= maxDistance &&
        abs(col("pa") - col("pb")) <= maxDistance)
      .select(least(col("ida"), col("idb")).as("id1"),
        greatest(col("ida"), col("idb")).as("id2"))
      .distinct()
    val d = levenshtein(col("__graft_s1"), col("__graft_s2"))
    candidates
      .join(base.select(col("__graft_id").as("id1"), col("__graft_s").as("__graft_s1")), Seq("id1"))
      .join(base.select(col("__graft_id").as("id2"), col("__graft_s").as("__graft_s2")), Seq("id2"))
      .select(explode(array(struct(col("id1"), col("id2"), d.as("distance")))).as("__graft_r"))
      .select(col("__graft_r.id1"), col("__graft_r.id2"), col("__graft_r.distance"))
      .filter(col("distance") <= maxDistance)
  }

  /** Corpus n-gram novelty: for each document, the fraction of its DISTINCT
    * word n-grams that appear in NO other document — a boilerplate /
    * template detector (low novelty = the doc is assembled from corpus-
    * common spans) and the per-doc dual of span dedup's per-window view.
    * Output per doc: `total_grams`, `unique_grams` (document frequency 1),
    * `novelty_ppm = (1e6 * unique) div total`. Documents whose shingle set
    * is empty (no tokens after normalization) are excluded by contract.
    *
    * Scale shape: grams are 8-byte xxhash64 keys ([[hashedShingleSets]] —
    * never shingle strings) and the document frequency is a COUNT window
    * over the gram key on the exploded (id, gram) pairs: one shuffle on
    * the gram, one on the id, no join, no second text pass. The explode
    * wraps its attribute in array_compact — InferFiltersFromGenerate would
    * otherwise clone the whole shingle pipeline into an inferred
    * size()-filter below the Generate (SPARK-36715, the q78 lesson). */
  def corpusNoveltyScores(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = hashedShingleSets(df, idCol, textCol, shingleSize)
      .select(col(idCol), explode(array_compact(col("sh"))).as("__graft_g"))
    pairs
      .withColumn("__graft_df", count(lit(1)).over(Window.partitionBy(col("__graft_g"))))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("total_grams"),
        sum(when(col("__graft_df") === 1, 1L).otherwise(0L)).as("unique_grams"))
      .withColumn("novelty_ppm", expr("(1000000 * unique_grams) div total_grams"))
  }

  // ----------------------------------------------------------- winnowing

  /** Winnowed document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): n-token window hashes via the
    * map-side [[graft.plans.WindowHash64]] Rabin–Karp expression, then the
    * rightmost-minimum of each w-hash selection window via the map-side
    * [[graft.plans.WinnowSelect]] deque expression. The guarantee: any two
    * documents sharing a run of at least w+n−1 tokens share at least one
    * selected fingerprint, while only ~2/(w+1) of window hashes are kept —
    * the density/recall dial of local fingerprinting.
    *
    * Scale shape: BOTH stages are pure per-row codegen expressions — the
    * corpus never shuffles tokens, window hashes, or window strings; only
    * the selected (id, fingerprint) pairs (an ~2/(w+1) sample of windows)
    * reach the one distinct-aggregate exchange. Short documents (< n
    * tokens) contribute no fingerprints; documents with ≥ 1 window always
    * contribute ≥ 1 (WinnowSelect's short-array rule).
    *
    * Returns one row per distinct (idCol, fp). */
  def winnowedFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 4,
      w: Int = 4): DataFrame = {
    require(n >= 1 && w >= 1, s"winnowedFingerprints: n=$n and w=$w must be >= 1")
    import org.apache.spark.sql.graft.ExprColumn
    val toked = df.select(col(idCol), tokens(normalize(col(textCol))).as("__graft_toks"))
    val winHashes = ExprColumn(
      graft.plans.WindowHash64(ExprColumn.expr(col("__graft_toks")), n))
    val selected = ExprColumn(
      graft.plans.WinnowSelect(ExprColumn.expr(winHashes), w))
    // array_compact wrapper: drops the short-document NULL arrays without a
    // filter on the expensive projected column (the q78/q80 pushdown trap —
    // InferFiltersFromGenerate skips non-attribute generator children)
    toked
      .select(col(idCol), explode(array_compact(array(selected))).as("__graft_sel"))
      .select(col(idCol), explode(col("__graft_sel")).as("fp"))
      .distinct()
  }

  /** Near-duplicate pairs by shared winnowed fingerprints: the inverted-
    * index join (fingerprint → docs, equi-join, count = shared) — candidate
    * volume proportional to real fingerprint collisions, never all-pairs.
    * Pairs sharing ≥ `minShared` fingerprints are reported with the shared
    * count and each side's fingerprint total (containment evidence). */
  def winnowingNearDuplicates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 4,
      w: Int = 4,
      minShared: Int = 2): DataFrame = {
    val fps = winnowedFingerprints(df, idCol, textCol, n, w)
      .withColumnRenamed(idCol, "__graft_id")
      .localCheckpoint(true) // self-joined below: compute the pipeline once
    val sizes = fps.groupBy(col("__graft_id")).agg(count(lit(1)).as("n_fp"))
    val shared = fps.as("a")
      .join(fps.as("b"), col("a.fp") === col("b.fp") && col("a.__graft_id") < col("b.__graft_id"))
      .groupBy(col("a.__graft_id").as("id1"), col("b.__graft_id").as("id2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    shared
      .join(sizes.select(col("__graft_id").as("id1"), col("n_fp").as("n_fp1")), Seq("id1"))
      .join(sizes.select(col("__graft_id").as("id2"), col("n_fp").as("n_fp2")), Seq("id2"))
      .select(col("id1"), col("id2"), col("shared"), col("n_fp1"), col("n_fp2"))
  }

  // ------------------------------------------------- sorted neighborhood

  /** Sorted-neighborhood record-linkage blocking (Hernandez & Stolfo,
    * SIGMOD'95 merge/purge): within each block, records sorted by a
    * discriminating key are compared only against their `window - 1`
    * sort-successors, then verified by edit distance. Candidate volume is
    * (window−1)·N — linear, the point of the method — versus the per-block
    * quadratic of plain blocking when blocks are coarse.
    *
    * Scale shape: ONE window shuffle on (block) with a per-block sort;
    * the successor keys ride along as `window − 1` LEAD columns (no
    * self-join against the corpus), the levenshtein verify is codegen'd,
    * and only surviving pairs leave the stage. The sort key should be
    * short (a prefix) — it is carried `window − 1` times per row.
    *
    * Total order: (key, id) — ties on the key cannot reorder between
    * engines, which is what makes the pair set oracle-replayable.
    * Returns (id1, id2, dist), id1 < id2 by sort position. */
  def sortedNeighborhoodPairs(
      df: DataFrame,
      idCol: String,
      keyCol: String,
      blockCol: String,
      window: Int = 3,
      maxDist: Int = 8): DataFrame = {
    require(window >= 2, s"sortedNeighborhoodPairs: window $window must be >= 2")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(blockCol)).orderBy(col(keyCol), col(idCol))
    // window expressions materialize in their own projection first — a
    // Generate operator cannot host them (UNSUPPORTED_EXPR_FOR_OPERATOR)
    val withLeads = df.select(
      Seq(col(idCol), col(keyCol), col(blockCol)) ++
        (1 until window).map { i =>
          struct(lead(col(idCol), i).over(w).as("nid"), lead(col(keyCol), i).over(w).as("nkey"))
            .as(s"__graft_n$i")
        }: _*)
    withLeads
      .withColumn("__graft_nbr",
        explode(array((1 until window).map(i => col(s"__graft_n$i")): _*)))
      .filter(col("__graft_nbr.nid").isNotNull)
      .withColumn("dist", levenshtein(col(keyCol), col("__graft_nbr.nkey")))
      .filter(col("dist") <= maxDist)
      .select(
        col(idCol).as("id1"),
        col("__graft_nbr.nid").as("id2"),
        col("dist").cast("long").as("dist"))
  }
}
