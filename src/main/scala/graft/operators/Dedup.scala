package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Document-deduplication operators for training-data pipelines, from exact
  * to fuzzy:
  *
  *  - [[exactDupGroups]] / [[dropExactDups]]: content-hash groupBy — one
  *    shuffle on a 128-bit key, arbitrarily parallel.
  *  - [[minHashLsh]]: MinHash + banded LSH (Broder 1997 / Leskovec MMDS
  *    ch.3) — candidate pairs only ever meet inside a band-bucket join, so
  *    the O(n²) comparison collapses to per-bucket joins; at 100 TB the
  *    bucket key (band id, band hash) is the shuffle key and skew is bounded
  *    by bucket size.
  *  - [[simHashDups]]: 64-bit SimHash with hamming-distance radius, blocked
  *    on 16-bit chunks (pigeonhole: distance ≤ 3 ⇒ at least one of 4 chunks
  *    equal) so the self-join is equi-join-able, never a cross join.
  *  - [[ngramJaccardPairs]]: exact n-gram Jaccard on candidate pairs —
  *    used as the verify stage after LSH blocking.
  *  - [[embeddingNearDups]] lives in [[Similarity]] (cosine radius search).
  */
object Dedup {

  /** Groups of byte-identical documents: (text_hash, dup_count, keeper_id).
    * Keeper = smallest id, the standard deterministic survivor policy.
    */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("dup_count"), min(col(idCol)).as("keeper_id"))

  /** Keep exactly one row per distinct text (smallest id wins). */
  def dropExactDups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .withColumn("__rn",
        row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(md5(col(textCol)))
            .orderBy(col(idCol))))
      .filter(col("__rn") === 1)
      .drop("__rn")

  /** The persistable LSH state of a corpus: one (id, band, band_hash) row
    * per band per doc. This is the mergeable "signature store" of an
    * incremental dedup pipeline — append each ingested batch's rows and
    * new batches only ever join against it, never against raw text.
    * Deliberately NARROW: only (band, band_hash, id) enters any bucket
    * shuffle — shuffling the shingle arrays through every band would
    * multiply shuffle bytes by `bands` and make bucket skew array-sized.
    *
    * The banding parameters (shingleN, k, bands) are stamped into the
    * `band_hash` column's metadata — which survives a parquet round-trip —
    * so a later [[dedupIncremental]] can refuse state built with a
    * different scheme instead of silently producing a near-empty join.
    * Defaults match [[dedupCorpus]]/[[dedupIncremental]] (16×2 banding).
    */
  def bandSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 16): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rowsPerBand = k / bands
    val params = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.shingleN", shingleN.toLong)
      .putLong("graft.k", k.toLong)
      .putLong("graft.bands", bands.toLong)
      .build()
    docs
      .select(col(idCol).as("id"),
        minHashSignature(shingles(col(textCol), shingleN), k).as("sig"))
      .select(
        col("id"),
        posexplode(
          array((0 until bands).map { b =>
            xxhash64(lit(b), slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))
          }: _*)
        ).as(Seq("band", "band_hash")),
      )
      .withMetadata("band_hash", params)
  }

  /** Candidate id pairs from a band-signature table: docs sharing any
    * band-hash, deduped on the bare id pair (map-side combinable,
    * 16 bytes/row) before touching any array.
    */
  private def pairsFromBands(banded: DataFrame): DataFrame = {
    val l = banded.select(col("band"), col("band_hash"), col("id").as("id_a"))
    val r = banded.select(col("band"), col("band_hash"), col("id").as("id_b"))
    l.join(r, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** Exact shingle-set Jaccard over candidate (id_a, id_b) pairs: fetch
    * each side's shingle set once by id, keep pairs at/above `threshold`.
    */
  private def verifyPairs(pairs: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame = {
    // sort each distinct shingle set ONCE per document so the per-pair
    // intersection is the allocation-free linear merge with a threshold
    // early exit (the q44 verify kernel, guide §1.2): a provably
    // sub-threshold candidate stops mid-merge with -1 (filtered exactly as
    // its true J < threshold would be), a passing pair computes the exact
    // J the hash-set kernel produced (law in ExpressionSpec; the q45/q68
    // oracles replay the emitted column)
    val shS = sh.select(col("id"), array_sort(col("sh")).as("sh"))
    pairs
      .join(shS.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(shS.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        graft.expressions.TokenExpressions.jaccardSimSortedMin(
          col("sh_a"), col("sh_b"), threshold))
      .filter(col("jaccard") >= threshold)
      // parity round: q45's oracle replays this column in DuckDB
      .select(col("id_a"), col("id_b"),
        graft.functions.ColumnFunctions.pround(col("jaccard"), 4).as("jaccard"))
  }

  /** MinHash-LSH candidate pairs: signature of `k` hashes split into
    * `bands`; docs sharing any band-hash become a candidate pair, then
    * exact shingle-set Jaccard filters to `threshold`.
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    */
  def minHashLsh(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    val banded = bandSignatures(docs, idCol, textCol, shingleN, k, bands)
    val sh = docs.select(col(idCol).as("id"),
      array_distinct(shingles(col(textCol), shingleN)).as("sh"))
    verifyPairs(pairsFromBands(banded), sh, threshold)
  }

  /** Engine-portable twin of [[bandSignatures]]: md5-hex minhash rows
    * ([[TextFunctions.minHashSignaturePortable]]) and an md5 band hash over
    * `"<band>:" ++ join(rows, ",")`, so any engine with md5 reproduces the
    * exact (band, band_hash) buckets — this is what lets the q45/q68
    * oracles replay LSH candidate generation in DuckDB instead of settling
    * for a rows-only check. Same narrow shuffle shape as the native
    * variant: only (band, band_hash, id) ever enters a bucket join.
    */
  def bandSignaturesPortable(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 16): DataFrame = {
    require(k % bands == 0, "bands must divide k")
    val rowsPerBand = k / bands
    val nPart = docs.sparkSession.sessionState.conf.numShufflePartitions
    docs
      // The k·|shingles| md5 loop is ~10× an xxhash64, so this stage is
      // compute-bound: a small parquet input arrives in 1-2 partitions and
      // would hash on 1-2 cores. Explicit repartition (AQE-exempt) spreads
      // the digest work across the cluster before the heavy projection.
      .repartition(nPart, col(idCol))
      .select(col(idCol).as("id"),
        minHashSignaturePortable(
          array_distinct(shingles(col(textCol), shingleN)), k).as("sig"))
      .select(
        col("id"),
        posexplode(
          array((0 until bands).map { b =>
            md5(concat(lit(s"$b:"),
              concat_ws(",", slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))))
          }: _*)
        ).as(Seq("band", "band_hash")),
      )
  }

  /** [[minHashLsh]] on the portable md5 banding — byte-identical candidate
    * buckets in any md5-capable engine (DuckDB oracle for q45).
    */
  def minHashLshPortable(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 16,
      threshold: Double = 0.7): DataFrame = {
    // materialized once: both sides of the bucket self-join read the banded
    // frame, and the md5 signature stage is too expensive to recompute.
    // LAZY: the candidate join's own job materializes the blocks (first
    // reader computes, the second reads the pinned copy) — no dedicated
    // serial checkpoint job.
    val banded = bandSignaturesPortable(docs, idCol, textCol, shingleN, k, bands)
      .localCheckpoint(false)
    val sh = docs.select(col(idCol).as("id"),
      array_distinct(shingles(col(textCol), shingleN)).as("sh"))
    verifyPairs(pairsFromBands(banded), sh, threshold)
  }

  /** SimHash near-dup pairs within hamming radius `maxDist`, blocked by
    * 16-bit fingerprint chunks so candidates meet in an equi-join.
    */
  def simHashDups(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame =
    simHashDupsImpl(docs.select(col(idCol).as("id"),
      simHash64(col(textCol)).as("fp")), maxDist)

  /** [[simHashDups]] on the portable md5 token hash
    * ([[TextFunctions.simHash64Portable]]): the 16-bit chunk blocking is
    * EXACT for the hamming radius (pigeonhole), so the emitted pair set
    * equals the brute-force hamming scan any engine can run — which is
    * precisely how the q46 DuckDB oracle checks it.
    */
  def simHashDupsPortable(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame =
    simHashDupsImpl(docs.select(col(idCol).as("id"),
      simHash64Portable(col(textCol)).as("fp")), maxDist)

  /** Near-dup pairs within Hamming radius `maxDist` for ANY 64-bit
    * fingerprint frame (id, fp) — the [[simHashDups]] chunk blocking
    * opened to other fingerprint producers (the image perceptual-hash
    * path `multimodal.ImageHash`). Radius ≤ 3 keeps the 16-bit-chunk
    * blocking EXACT by pigeonhole (4 chunks: any pair within distance 3
    * shares an unchanged chunk), so the emitted pair set equals the
    * brute-force Hamming scan — which is how the q206 oracle checks it.
    */
  def hammingPairs64(fp: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist <= 3,
      s"chunk blocking is exact only for radius <= 3: $maxDist")
    simHashDupsImpl(fp, maxDist)
  }

  private def simHashDupsImpl(fp: DataFrame, maxDist: Int): DataFrame = {
    val chunked = fp.select(
      col("id"), col("fp"),
      posexplode(
        array((0 until 4).map { c =>
          shiftrightunsigned(col("fp"), c * 16).bitwiseAND(0xffffL)
        }: _*)
      ).as(Seq("chunk", "chunk_val")),
    )
    val l = chunked.select(col("chunk"), col("chunk_val"), col("id").as("id_a"), col("fp").as("fp_a"))
    val r = chunked.select(col("chunk"), col("chunk_val"), col("id").as("id_b"), col("fp").as("fp_b"))
    // hamming distance computed and filtered BEFORE the pair-dedup
    // exchange (guide §2.3 "aggregate before you shuffle"): only pairs
    // that actually pass the radius enter the distinct's shuffle — chunk
    // collisions that fail it (the vast majority on a uniform fingerprint
    // space) die map-side, and the shuffled row drops the two 8-byte
    // fingerprints. dist is a pure function of the pair, so
    // filter∘distinct ≡ distinct∘filter.
    l.join(r, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
      .distinct()
  }

  /** End-to-end corpus cleaning: exact dedup, then MinHash-LSH fuzzy dedup
    * with union-find-free survivor selection (smallest id in each near-dup
    * pair chain wins greedily: a doc is dropped if it is the LARGER id of
    * any confirmed pair — one pass, no iterative connected components;
    * transitive chains keep their minimum element because every non-min
    * element pairs with something smaller within LSH range).
    * Returns the surviving rows of `docs`.
    */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.7,
      k: Int = 32, bands: Int = 16): DataFrame = {
    // default banding 16×2: detection probability 1-(1-j²)^16 ≈ 0.99 at
    // j=0.5 (8×4 banding would coin-flip mid-similarity pairs)
    val exact = dropExactDups(docs, idCol, textCol)
    val pairs = minHashLsh(exact, idCol, textCol,
      shingleN = shingleN, k = k, bands = bands, threshold = threshold)
    val losers = pairs.select(col("id_b").as(idCol)).distinct()
    exact.join(losers, Seq(idCol), "left_anti")
  }

  /** [[dedupCorpus]] on the portable md5 banding — the survivor set is
    * engine-reproducible, so q68's oracle replays the whole exact→LSH→
    * anti-join pipeline in DuckDB.
    */
  def dedupCorpusPortable(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.7,
      k: Int = 32, bands: Int = 16): DataFrame = {
    val exact = dropExactDups(docs, idCol, textCol)
    val pairs = minHashLshPortable(exact, idCol, textCol,
      shingleN = shingleN, k = k, bands = bands, threshold = threshold)
    val losers = pairs.select(col("id_b").as(idCol)).distinct()
    exact.join(losers, Seq(idCol), "left_anti")
  }

  /** Per-document dup-cluster map over the verified LSH pair graph:
    * exact dedup first, then connected components over the confirmed
    * near-dup pairs ([[Components.connectedComponents]] — min-label
    * propagation, O(diameter) rounds). Returns (id, cluster_id) for every
    * exact-dedup survivor; cluster_id = the smallest id reachable through
    * near-dup pairs.
    *
    * This is the CLUSTER-dedup policy (one survivor per connected
    * component — what C4/FineWeb-style pipelines apply): strictly more
    * aggressive than [[dedupCorpus]]'s pairwise rule, which keeps every
    * LOCAL minimum (a doc smaller than all its pair partners survives even
    * when its component has a smaller member it never paired with).
    * Declared on the portable md5 banding so the whole map — banding,
    * verification, closure — is engine-replayable (q108's DuckDB oracle
    * runs it as a recursive CTE).
    */
  def dupClusterMap(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.7,
      k: Int = 32, bands: Int = 16): DataFrame = {
    val exact = dropExactDups(docs, idCol, textCol)
    val pairs = minHashLshPortable(exact, idCol, textCol,
      shingleN = shingleN, k = k, bands = bands, threshold = threshold)
    Components.connectedComponents(
      exact.select(col(idCol).as("id")),
      pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
  }

  /** [[dedupCorpus]] with cluster-based survivor selection: keep exactly
    * the minimum id of each near-dup component. Survivors are the fixed
    * points of [[dupClusterMap]] (id == cluster_id); always a subset of
    * the pairwise policy's survivors (law in DedupSpec).
    */
  def dedupCorpusClustered(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.7,
      k: Int = 32, bands: Int = 16): DataFrame = {
    val survivors = dupClusterMap(docs, idCol, textCol, shingleN, threshold, k, bands)
      .filter(col("id") === col("cluster_id"))
      .select(col("id").as(idCol))
    docs.join(survivors, Seq(idCol), "left_semi")
  }

  /** Incremental fuzzy dedup: clean a NEW ingest batch against the
    * already-ingested corpus WITHOUT re-pairing the corpus with itself —
    * the only dedup shape that works when the corpus is 100 TB and the
    * batch is a morning's crawl.
    *
    * `oldBands` is the persisted [[bandSignatures]] state of the existing
    * corpus (append-only across batches); `oldDocs` is the corpus itself,
    * touched ONLY to fetch shingle sets for the candidate ids that
    * survive banding (a semi-join-pruned, column-pruned point lookup —
    * never a full scan of old text). A new doc is dropped when it
    * verifies ≥ `threshold` against any old doc (old corpus always wins)
    * or against a smaller-id new doc (the [[dedupCorpus]] greedy rule).
    * Exact duplicates need no separate stage: identical text ⇒ identical
    * signature ⇒ band collision ⇒ J = 1.0.
    *
    * Returns the surviving rows of `newDocs`; the caller appends
    * `bandSignatures(survivors)` to the store to ingest the next batch.
    * If the old corpus is clean and all new ids sort after old ids, the
    * result equals re-running [[dedupCorpus]] over old ∪ new (law in
    * DedupSpec).
    */
  def dedupIncremental(newDocs: DataFrame, oldDocs: DataFrame,
      oldBands: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.7,
      k: Int = 32, bands: Int = 16): DataFrame = {
    // fail fast on state built under a different banding scheme: with
    // mismatched (shingleN, k, bands) the (band, band_hash) join is
    // silently near-empty and cross-batch duplicates sail through.
    // bandSignatures stamps its parameters into band_hash's metadata
    // (parquet-persistent); absent metadata (hand-built state) is allowed.
    val m = oldBands.schema.find(_.name == "band_hash").map(_.metadata)
      .getOrElse(org.apache.spark.sql.types.Metadata.empty)
    if (m.contains("graft.bands")) {
      val (os, ok2, ob) =
        (m.getLong("graft.shingleN"), m.getLong("graft.k"), m.getLong("graft.bands"))
      require(os == shingleN && ok2 == k && ob == bands,
        s"dedupIncremental: oldBands was built with (shingleN=$os, k=$ok2, " +
          s"bands=$ob) but this call uses (shingleN=$shingleN, k=$k, " +
          s"bands=$bands) — band hashes would never collide across batches")
    }
    val newClean = dropExactDups(newDocs, idCol, textCol)
    // the batch is signed ONCE; the same band table drives both the
    // vs-corpus candidate join and the within-batch self-join (the MinHash
    // signature stage is the dominant per-batch cost)
    val newBands = bandSignatures(newClean, idCol, textCol, shingleN, k, bands)
    def sh(df: DataFrame) = df.select(col(idCol).as("id"),
      array_distinct(shingles(col(textCol), shingleN)).as("sh"))
    val newSh = sh(newClean)

    // candidates vs the persisted corpus state: equi-join on the bucket key
    val crossCand = newBands.select(col("band"), col("band_hash"), col("id").as("new_id"))
      .join(oldBands.select(col("band"), col("band_hash"), col("id").as("old_id")),
        Seq("band", "band_hash"))
      .select(col("new_id"), col("old_id"))
      .distinct()

    // verify: new-side shingles from the batch, old-side shingles fetched
    // ONLY for candidate ids (semi-join-pruned scan of the corpus)
    val oldCandSh = sh(oldDocs)
      .join(crossCand.select(col("old_id").as("id")).distinct(), Seq("id"), "left_semi")
    val droppedVsOld = crossCand
      .join(newSh.select(col("id").as("new_id"), col("sh").as("sh_a")), Seq("new_id"))
      .join(oldCandSh.select(col("id").as("old_id"), col("sh").as("sh_b")), Seq("old_id"))
      .filter(graft.expressions.TokenExpressions.jaccardSim(col("sh_a"), col("sh_b"))
        >= threshold)
      .select(col("new_id").as(idCol))
      .distinct()

    // within-batch near-dups from the SAME band table
    val withinPairs = verifyPairs(pairsFromBands(newBands), newSh, threshold)
    val droppedWithin = withinPairs.select(col("id_b").as(idCol)).distinct()

    newClean
      .join(droppedVsOld.union(droppedWithin).distinct(), Seq(idCol), "left_anti")
  }

  /** EXACT token-set Jaccard self-join via prefix filtering (Chaudhuri et
    * al. 2006 SSJoin; Bayardo et al. 2007 All-Pairs; Xiao et al. 2008
    * PPJoin): under a global total token order, any pair with
    * J(A,B) ≥ t must share its smallest common token within both prefixes
    * of length |X| − ⌈t·|X|⌉ + 1 — so candidates come from an EQUI-JOIN on
    * exploded prefix tokens, never a cross join, with zero false negatives.
    *
    * The global order is document-frequency ascending (ties by token), the
    * All-Pairs trick: the rarest tokens land in prefixes, so candidate
    * lists per join key stay short and the prefix join cannot hot-spot on
    * stopwords. Scale shape: the corpus shuffles as (token, id, size)
    * triples — never token arrays — and the verify stage fetches each
    * surviving side's array exactly once by id.
    *
    * Exactness at the rounding boundary: the output filter is
    * round(J, 4) ≥ t (so the DuckDB oracle can replay it), hence blocking
    * runs at t − 1e−4 to keep pairs that round UP to t; the ⌈·⌉ uses a
    * 1e−9 slack so an exactly-integral t·|X| (e.g. 0.9 · 10) is not
    * over-ceiled by float error — both slacks only lengthen prefixes,
    * preserving exactness.
    *
    * Identical token SETS are collapsed first (md5 of the sorted set) and
    * the join runs on one representative per distinct set, then pairs are
    * expanded back through group membership — on real web corpora 30–50 %
    * of documents are exact duplicates, so the quadratic stage sees a
    * fraction of the corpus and every intra-group pair is emitted as
    * J = 1.0 without ever being verified.
    *
    * Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to 4.
    */
  def jaccardSelfJoin(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame = {
    require(threshold > 0 && threshold <= 1)
    val tEff = threshold - 1e-4 // round-to-4-then-filter boundary margin

    // collapse identical token sets: h identifies the SET (order-free);
    // one representative (min id) carries it through the expensive join.
    // Empty sets are excluded throughout (J(∅,·) is undefined — same
    // contract as the prefix scheme, which generates no prefix for them).
    val docSets = docs.select(col(idCol).as("id"),
      array_distinct(split(col(textCol), "\\s+")).as("tok"))
      .filter(size(col("tok")) > 0)
      .withColumn("h", md5(concat_ws("\u0000", array_sort(col("tok")))))
    // Materialized once: docSets feeds members (read 3×: repOf + intra×2)
    // and reps; reps feeds the prefix chain, BOTH verify-side set lookups,
    // and repOf. Without lineage truncation every consumer replays the
    // scan + tokenize + set-collapse groupBy from scratch — localCheckpoint
    // pins the (tiny: one row per document / per distinct set) frames in
    // the block manager so consumers read blocks instead of recomputing.
    // LAZY (the Packing pattern): the three pins materialize inside the
    // first consuming job rather than as three dedicated serial
    // checkpoint jobs (~0.4 s of pure dispatch latency in the r16 profile).
    val docSetsCk = docSets.localCheckpoint(false)
    val members = docSetsCk.select(col("h"), col("id"))
    val reps = docSetsCk.groupBy(col("h"))
      .agg(min(col("id")).as("id"), min_by(col("tok"), col("id")).as("tok"))
      .localCheckpoint(false)

    val tok = reps.select(col("id"), explode(col("tok")).as("tok"))
    // document frequency per token — the global order driver; vocab-sized
    val freq = tok.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    // per doc: tokens sorted rare-first ((freq, tok) struct sort = total order)
    val ordered = tok.join(freq, Seq("tok"))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("freq"), col("tok")))).as("ord"))
      .select(col("id"), col("ord").getField("tok").as("toks"))
      // prefixes is read by BOTH sides of the candidate join — truncate so
      // the freq-join + rare-first ordering groupBy runs once, not twice
      .localCheckpoint(false)
    // prefix rows carry the 1-based POSITION of each prefix token (PPJoin's
    // positional information) and hash the token to a long: the join key
    // shuffles as 8 bytes, and a hash collision can only MERGE two tokens'
    // candidate lists — extra candidates for the verify stage, never a lost
    // pair, so exactness is preserved.
    val prefixes = ordered
      .withColumn("sz", size(col("toks")))
      .withColumn("plen",
        (col("sz") - ceil(col("sz") * tEff - 1e-9) + 1).cast("int"))
      .select(col("id"), col("sz"),
        posexplode(slice(col("toks"), lit(1), col("plen"))).as(Seq("pos0", "ptok0")))
      .select(col("id"), col("sz"), (col("pos0") + 1).as("pos"),
        xxhash64(col("ptok0")).as("ptok"))

    // The streamed side MUST be spread before the expansion: upstream is a
    // corpus-count-sized aggregate that AQE happily coalesces into very few
    // partitions, and on a dense corpus (small vocabulary) each prefix row
    // can match thousands of bucket entries — the candidate blow-up then
    // runs on a handful of tasks. An explicit numPartitions repartition is
    // exempt from AQE coalescing, so the expansion parallelizes by id_a no
    // matter how small the prefix table itself is.
    val nPart = docs.sparkSession.sessionState.conf.numShufflePartitions
    val l = prefixes.repartition(nPart, col("id"))
      .select(col("ptok"), col("id").as("id_a"), col("sz").as("sz_a"), col("pos").as("pos_a"))
    val r = prefixes.select(col("ptok"), col("id").as("id_b"), col("sz").as("sz_b"),
      col("pos").as("pos_b"))
    // J ≥ t ⇒ overlap ≥ t/(1+t)·(sa+sb); for any shared token at positions
    // (pa, pb) the overlap is ≤ min(pa,pb)−1 + 1 + min(sa−pa, sb−pb)
    // (common tokens strictly before it are within both position prefixes;
    // strictly after it within both suffixes) — the PPJoin positional
    // filter. A qualifying pair satisfies the bound at EVERY shared prefix
    // token, so dropping matches that fail it loses no pair.
    val overlapBound = least(col("pos_a"), col("pos_b")) +
      least(col("sz_a") - col("pos_a"), col("sz_b") - col("pos_b"))
    val candidates = l.join(r, Seq("ptok"))
      .filter(col("id_a") < col("id_b"))
      // size band before the distinct: J ≥ t ⇒ sizes within factor t
      .filter(col("sz_a") >= col("sz_b") * tEff && col("sz_b") >= col("sz_a") * tEff)
      .filter(overlapBound >=
        (col("sz_a") + col("sz_b")) * (tEff / (1 + tEff)) - 1e-9)
      .select(col("id_a"), col("id_b"))
      .distinct()
      // candidate pairs are 16 bytes each, so AQE coalesces even millions
      // of them into a couple of partitions — which would serialize the
      // verify stage's per-pair set intersections. Explicit numPartitions
      // keeps the verify fan-out wide.
      .repartition(nPart, col("id_a"), col("id_b"))

    // verify: fetch each representative's token set once, exact Jaccard.
    // Sets are SORTED once per representative (|reps| array_sorts) so the
    // per-pair intersection is an allocation-free linear merge
    // (jaccardSimSorted) instead of building two hash sets per candidate
    // pair — the hash-set path allocated ~2 HashSets per pair and was the
    // verify stage's GC/allocation bottleneck at 32 concurrent tasks
    // (anti-scaling: the same work ran 2× faster at 8 threads). Same
    // |A∩B|/|A∪B| on distinct inputs; array_sort's UTF8String binary
    // order is exactly the merge's compareTo order.
    val sets = reps.select(col("id"), array_sort(col("tok")).as("tok"))
    val repPairs = candidates
      .join(sets.select(col("id").as("id_a"), col("tok").as("tok_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("tok").as("tok_b")), Seq("id_b"))
      // threshold early exit (tMin a full 1e-3 under the declared
      // threshold, an order looser than the 1e-4 rounding margin): a pair
      // that could still round-pass the >= threshold filter always
      // computes its exact Jaccard — identical surviving rows and values —
      // while a provably sub-threshold candidate stops mid-merge with -1
      .withColumn("jaccard",
        graft.functions.ColumnFunctions.pround(
          graft.expressions.TokenExpressions.jaccardSimSortedMin(
            col("tok_a"), col("tok_b"), threshold - 1e-3), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

    // expand back to document pairs through group membership
    val repOf = members
      .join(reps.select(col("h"), col("id").as("rep")), Seq("h"))
      .select(col("id"), col("rep"))
    // distinct-set pairs → every cross-group member pair (ids re-ordered:
    // group membership does not respect the representatives' id order)
    val inter = repPairs
      .join(repOf.select(col("rep").as("id_a"), col("id").as("m_a")), Seq("id_a"))
      .join(repOf.select(col("rep").as("id_b"), col("id").as("m_b")), Seq("id_b"))
      .select(least(col("m_a"), col("m_b")).as("id_a"),
        greatest(col("m_a"), col("m_b")).as("id_b"), col("jaccard"))
    // identical-set pairs: J = 1.0 by construction, no verification needed
    val intra = members.select(col("h"), col("id").as("id_a"))
      .join(members.select(col("h"), col("id").as("id_b")), Seq("h"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
    inter.unionByName(intra)
  }

  /** Exact word-n-gram Jaccard similarity for given candidate pairs
    * (id_a, id_b) — the verification stage after any blocking scheme.
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, n: Int = 3): DataFrame = {
    val sh = docs.select(
      col(idCol).as("id"),
      array_distinct(shingles(col(textCol), n)).as("sh"))
    pairs
      .join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard",
        graft.expressions.TokenExpressions.jaccardSim(col("sh_a"), col("sh_b")))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** EXACT SUBSTRING dedup (Lee et al. 2022, "Deduplicating Training Data
    * Makes Language Models Better", §3 ExactSubstr — re-expressed as a
    * relational plan instead of the paper's suffix array): every
    * duplicated token run of length ≥ `windowN` across the corpus,
    * reported as per-document MAXIMAL spans.
    *
    *  1. Slide a `windowN`-token window over every position of every
    *     document and hash it — done INSIDE the row with
    *     `transform(sequence(...), slice)` over the token array, so the
    *     expansion is computed per-document with zero shuffle, and only
    *     (id, pos, hash64) rows leave the stage. A duplicated substring
    *     of length L ≥ windowN duplicates all L−windowN+1 of its
    *     windows, which is what makes span merging exact.
    *  2. One shuffle groups by window hash; hashes seen ≥ 2 times (self-
    *     repeats count — a doc repeating its own boilerplate dedups too)
    *     are the duplicated windows. The hot set is bounded by actual
    *     duplication, so it joins back broadcast-shaped, exactly the
    *     q104 plan.
    *  3. Per document, merge hit windows into maximal spans by
    *     gaps-and-islands over window start positions: windows at p and
    *     p' overlap-or-abut iff p' ≤ p + windowN, so an island break is
    *     a gap > windowN; each island reports [start, end] in token
    *     coordinates, its window count, and its hash count.
    *
    * At 100 TB: stage 1 is embarrassingly parallel; the stage-2 shuffle
    * key is the 64-bit window hash (corpus-token-sized, uniformly
    * distributed — the same volume any shingle pipeline shuffles); stage
    * 3 repartitions by document, span merge is a per-doc sort window.
    */
  def duplicatedSpans(docs: DataFrame, idCol: String, textCol: String,
      windowN: Int = 8): DataFrame = {
    require(windowN >= 2, "windowN must be >= 2")
    // one-shot corpus expansion: spread a narrower-than-cores scan so
    // the token-window explosion parallelizes (Spread is a no-op at
    // production scan widths; the store's repeated small-batch appends
    // deliberately do NOT spread — measured slower there)
    val wins = windowRows(Spread.toCores(docs, col(idCol)),
      idCol, textCol, windowN)
    val hot = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
      .select(col("h"))
    spansFromHits(wins.join(hot, Seq("h")), windowN)
  }

  /** One (id, pos, h) row per `windowN`-token sliding window of every
    * document — the expansion both [[duplicatedSpans]] and the persisted
    * [[SpanStore]] derive from. Computed INSIDE the row (transform over
    * sequence + slice), so nothing shuffles until the consumer's groupBy. */
  private[operators] def windowRows(docs: DataFrame, idCol: String,
      textCol: String, windowN: Int): DataFrame =
    docs.select(col(idCol).as("id"),
        split(trim(col(textCol)), "\\s+").as("w"))
      .filter(size(col("w")) >= windowN)
      .select(col("id"), explode(transform(
        sequence(lit(0), size(col("w")) - windowN),
        i => struct(i.as("pos"),
          xxhash64(concat_ws(" ", slice(col("w"), i + 1, lit(windowN))))
            .as("h")))).as("pw"))
      .select(col("id"), col("pw.pos").cast("long").as("pos"),
        col("pw.h").as("h"))

  /** Corpus-wide EXACT PARAGRAPH dedup, keep-first (the Falcon /
    * RefinedWeb "exact deduplication at the paragraph level" recipe,
    * distinct from [[graft.operators.Boilerplate]]'s per-source
    * line-frequency threshold and from [[duplicatedSpans]]' token
    * windows): a paragraph occurring in more than one document survives
    * ONLY in the smallest-id document carrying it; every other
    * occurrence is removed, paragraph order is preserved, and a document
    * whose every paragraph lost comes back as the empty string (kept —
    * dropping is quality-gate policy, not cleaning). A paragraph
    * repeated WITHIN one document is untouched by this pass
    * (cross-document dedup; in-doc repetition is the q84 signal).
    *
    * Scale shape: paragraphs explode in-row with their positions; the
    * keeper per paragraph is one paragraph-keyed min aggregation with
    * map-side partials; the verdict returns by the SAME paragraph-keyed
    * shuffle (unlike Boilerplate's broadcast-back, the duplicate set
    * here is corpus-sized by construction — a keyed shuffle is the
    * honest plan, and it reuses the aggregation's exchange); rebuild is
    * a doc-keyed collect_list sorted by stored position. No all-pairs
    * work, no global sort. */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val paras = docs.select(col(idCol).as("id"),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "p")))
    // EMPTY segments (blank lines / consecutive separators) are document
    // STRUCTURE, not content — they are exempt from keeper election and
    // survive verbatim everywhere (deduping them would strip every blank
    // line from all but one document corpus-wide)
    val keeper = paras.filter(col("p") =!= "")
      .groupBy(col("p")).agg(min(col("id")).as("keep_id"))
    val cleaned = paras.join(keeper, Seq("p"), "left_outer")
      .filter(col("p") === "" || col("id") === col("keep_id"))
      .groupBy(col("id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pos"), col("p")))),
        s => s.getField("p")), sep).as("clean_text"))
    docs.select(col(idCol).as("id"))
      .join(cleaned, Seq("id"), "left_outer")
      .select(col("id").as(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** (id, pos[, …]) hit windows → maximal per-document spans by
    * gaps-and-islands over window start positions (break at gap >
    * windowN — beyond that the coverage intervals no longer touch). */
  private[operators] def spansFromHits(hits: DataFrame, windowN: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    hits
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(w) > windowN, 1L)
          .otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy(col("id").as("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(windowN - 1)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_windows"))
  }
}
