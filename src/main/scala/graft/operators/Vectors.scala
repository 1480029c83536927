package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vector similarity search over embedding columns (SURVEY.md §2b row 3;
  * `embeddings.parquet`: vec_id, embedding array<float>, label).
  *
  * Every top-k path is two parts: a candidate generator (broadcast scan,
  * IVF cells, PQ/IVF-PQ codes, SQ8 codes, BQ codes or SimHash buckets)
  * and the shared ranking kernels. An exact path ends in [[rankTopK]];
  * a quantized path ends in [[shortlistRerank]], which re-ranks its
  * approximate shortlist by exact cosine. Brute force is the exact,
  * oracle-checkable baseline; the approximate paths have probabilistic
  * recall and are judged rows-only or by recall contract.
  *
  * All arithmetic is double (`array<float>` widened at the scan) so the
  * result is comparable with DuckDB's `list_cosine_similarity` on
  * `DOUBLE[]` within the comparator's 1e-9 tolerance. Pure higher-order
  * column expressions — no UDFs, vectors never leave Tungsten rows.
  */
object Vectors {

  /** Lloyd rounds of every trained quantizer: [[ivfTopK]]'s cells,
    * [[pqTopK]]'s codebooks and both of [[ivfPqTopK]]'s. */
  private val LloydIters = 2

  /** A quantized path's approximate shortlist keeps `k · ShortlistFactor`
    * candidates per query for [[shortlistRerank]]'s exact stage. */
  private val ShortlistFactor = 10

  /** Dot product of two array<double> columns — the native codegen
    * expression (graft.functions.DotProduct), registered as `graft_dot`
    * by Tables.bootstrap / GraftExtensions. The pure-builtin
    * `aggregate(zip_with(...))` form is kept as [[dotHof]] for
    * differential testing: HOFs evaluate interpreted and allocate an
    * intermediate array per row, which is exactly the per-pair cost the
    * brute-force join multiplies by |corpus| x |queries|. */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Built-in higher-order-function dot product (interpreted; see [[dot]]). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity of two array<double> columns. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  // ---- the shared top-k kernels ------------------------------------------

  /** The ranking step every top-k path ends in: per `qid`, rows ordered
    * by `score` (descending unless `ascending`), ties by `neighbor`,
    * numbered into `rankCol` and cut at `k`. Spark plans the cut as a
    * WindowGroupLimit, a bounded top-k heap per partition ahead of the
    * sort, so only k rows per query reach the shuffle's sort (PlanSpec
    * pins it for every path). */
  private def rankTopK(pairs: DataFrame, score: String, ascending: Boolean,
      k: Int, rankCol: String = "rank"): DataFrame = {
    val order = if (ascending) col(score).asc else col(score).desc
    pairs
      .withColumn(rankCol, row_number().over(
        Window.partitionBy(col("qid")).orderBy(order, col("neighbor"))))
      .filter(col(rankCol) <= k)
  }

  /** (qid, neighbor, sim) of candidate rows carrying both sides' ids and
    * vectors: the exact cosine every unquantized path ranks. */
  private def cosinePairs(cands: DataFrame, idCol: String, vecCol: String,
      qidCol: String, qvecCol: String): DataFrame =
    cands.select(col(qidCol).as("qid"), col(idCol).as("neighbor"),
      cosine(col(qvecCol), col(vecCol)).as("sim"))

  /** The exact stage of every quantized path. `approx` is (qid, __qv,
    * neighbor, `scoreCol`): each query's best `k · ShortlistFactor` rows
    * by the approximate score form the shortlist, the true vectors are
    * joined back from `cached` for those rows only, and the exact cosine
    * alone decides the order (which also absorbs an approximate score's
    * bias, e.g. ADC's dot-vs-cosine on non-unit corpora). */
  private def shortlistRerank(approx: DataFrame, scoreCol: String,
      ascending: Boolean, cached: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val shortlist = rankTopK(approx, scoreCol, ascending,
        k * ShortlistFactor, "__r")
      .select(col("qid"), col("__qv"), col("neighbor"))
    rankTopK(shortlist
      .join(cached.select(col(idCol).as("neighbor"), col(vecCol).as("__v")),
        "neighbor")
      .select(col("qid"), col("neighbor"),
        cosine(col("__qv"), col("__v")).as("sim")),
      "sim", ascending = false, k)
  }

  /** The `n` vectors lowest in xxhash64(id) order: the deterministic
    * seed rows every trained quantizer starts from (one TakeOrdered job,
    * a config-scale read). */
  private def hashSeeds(df: DataFrame, idCol: String, vecCol: String,
      n: Int): Seq[Seq[Double]] =
    df.select(col(vecCol)).orderBy(xxhash64(col(idCol))).limit(n)
      .collect().map(_.getSeq[Double](0).toSeq).toSeq

  /** One Lloyd round (Lloyd 1982): the new centroid of each `__cell` of
    * `assigned` is the mean of its rows' `vec`. ONE (cell, position) →
    * mean aggregate: partial aggregation compresses each task to
    * ≤ cells × dim rows, so the shuffle and the collect are a few KB of
    * centroid state, never a data collect. A cell no row landed in
    * keeps its old centroid. */
  private def lloydRound(assigned: DataFrame, vec: Column,
      cents: Seq[Seq[Double]]): Seq[Seq[Double]] = {
    val byCell = assigned.select(col("__cell"), posexplode(vec))
      .groupBy(col("__cell"), col("pos")).agg(avg(col("col")).as("m"))
      .collect().groupBy(_.getInt(0))
    cents.zipWithIndex.map { case (old, cell) =>
      byCell.get(cell).fold(old)(rows =>
        rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
    }
  }

  /** One Lloyd round over all PQ codebooks at once. `parts` is (m, c,
    * pos, `x`): subspace, code, position in the sub-vector and the value
    * to average. ONE (m, c, pos) → mean job per round covers every
    * subspace (per-task partials ≤ subspaces × codebookSize × ds rows),
    * instead of one full-corpus job per subspace whose scheduling
    * overhead dominated at small SF. A code no row took keeps its old
    * centroid. */
  private def codebookRound(parts: DataFrame, x: String,
      books: Array[Array[Seq[Double]]]): Array[Array[Seq[Double]]] = {
    val bySub = parts.groupBy(col("m"), col("c"), col("pos"))
      .agg(avg(col(x)).as("mu")).collect().groupBy(_.getInt(0))
    books.zipWithIndex.map { case (book, m) =>
      val byCode = bySub.getOrElse(m, Array.empty).groupBy(_.getInt(1))
      book.zipWithIndex.map { case (old, code) =>
        byCode.get(code).fold(old)(rows =>
          rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq)
      }
    }
  }

  /** Per-centroid direction similarity `v·c / |c|`: |v| is constant
    * across centroids for a given row, so argmax over these is argmax
    * over cosine. */
  private def cellSims(v: Column, cents: Seq[Seq[Double]]): Seq[Column] =
    cents.map(c => dot(v, typedLit(c)) / lit(math.sqrt(c.map(x => x * x).sum)))

  /** The max-cosine cell of `v`: the sims evaluated ONCE into a
    * cells-slot array, argmax = first position of the max (the same
    * tie-break as a CASE chain). The K-branch CASE form re-inlined
    * greatest(K dots) into every branch, ~K² dot evaluations in the
    * generated source, and overflowed janino's 64 KB method limit at
    * K=16, d=64 (the q_vec_pq expression-tree lesson, CLAUDE.md). */
  private def nearestCell(v: Column, cents: Seq[Seq[Double]]): Column = {
    val arr = array(cellSims(v, cents): _*)
    (array_position(arr, array_max(arr)) - 1).cast("int")
  }

  /** An IVF coarse quantizer: `seeds` sharpened by `LloydIters` Lloyd
    * rounds over `corpus`, each row assigned to its [[nearestCell]] in
    * the scan stage (no shuffle). */
  private def trainCells(corpus: DataFrame, vecCol: String,
      seeds: Seq[Seq[Double]]): Seq[Seq[Double]] =
    (1 to LloydIters).foldLeft(seeds) { (cents, _) =>
      lloydRound(corpus.withColumn("__cell", nearestCell(col(vecCol), cents)),
        col(vecCol), cents)
    }

  // ---- the top-k paths: each a candidate generator -----------------------

  /** Exact top-k nearest neighbors by cosine for each query vector.
    *
    * `queries`(qid, qv) x `corpus`(id, v) → (qid, neighbor, sim, rank<=k),
    * self-matches excluded, ties broken by neighbor id.
    *
    * Scale: the query side is expected to be small and broadcast (the
    * corpus side streams through in one pass — O(|corpus| x |queries|)
    * comparisons but no shuffle of the corpus); the per-query top-k window
    * shuffles only (qid, neighbor, sim) triples, k rows of which survive.
    * For corpus-x-corpus joins use [[annTopK]] buckets instead.
    */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int): DataFrame =
    rankTopK(cosinePairs(corpus.join(broadcast(queries), col(qidCol) =!= col(idCol)),
      idCol, vecCol, qidCol, qvecCol), "sim", ascending = false, k)

  /** k-NN label prediction (Fix & Hodges 1951 — the original
    * nonparametric classifier): each query takes the MAJORITY label of
    * its k nearest corpus neighbors by cosine, frequency ties breaking
    * to the smallest label (deterministic on both engines). The
    * semi-supervised primitive a labeled slice of a corpus bootstraps —
    * topic/quality/language propagation from a hand-labeled seed set to
    * everything embeddable near it.
    *
    * Plan shape: the neighbor search is [[bruteForceTopK]] (swap in any
    * ANN path for the 100 TB corpus — the vote logic is agnostic to how
    * the neighbor set was found), the label attach is one join against
    * the corpus's (id, label) projection, and the vote is the LPA-style
    * double partial-agg argmax `max(struct(votes, -label))` — no
    * window. Judged `q_knn` (votes + prediction per query, fully
    * oracled) and `q_knn_acc` (driver-judged: on the separated
    * clustered fixture with label = cluster id, every query must
    * recover its own cluster's label — the accuracy contract, id
    * arithmetic to the oracle); vote/tie edges pinned in VectorSpec. */
  def knnPredict(corpus: DataFrame, idCol: String, vecCol: String,
      labelCol: String, queries: DataFrame, qidCol: String, qvecCol: String,
      k: Int): DataFrame = {
    val top = bruteForceTopK(corpus, idCol, vecCol, queries, qidCol, qvecCol, k)
    top
      .join(corpus.select(col(idCol).as("neighbor"),
        col(labelCol).cast("long").as("__nl")), "neighbor")
      .groupBy(col("qid"), col("__nl")).agg(count(lit(1)).as("votes"))
      .groupBy(col("qid"))
      .agg(max(struct(col("votes"), (-col("__nl")).as("neg"))).as("best"))
      .select(col("qid"), col("best.votes").as("votes"),
        (-col("best.neg")).as("label_pred"))
  }

  /** Cross-modal / ground-truth retrieval evaluation (the CLIP-style
    * text↔image recall@k protocol, Radford et al. 2021 — public): given
    * a query relation, a corpus relation (typically ANOTHER modality's
    * embeddings) and a `truth` alignment (qid, id) of planted partners,
    * ONE summary row: `n_pairs`, `hits_at_1`, `hits_at_k`,
    * `recall_milli = hits·1000 div n` and
    * `mrr_micro = Σ(10⁶ div rank) div n` — every number an exact
    * integer over the brute-force top-k ranking (sim desc, id asc
    * ties). Unlike [[bruteForceTopK]] there is NO self-id exclusion:
    * cross-modal sides legitimately share ids (image_id == caption_id
    * is the usual alignment), and excluding them would erase every
    * partner.
    *
    * Scale: queries broadcast × corpus streamed on the `graft_dot`
    * kernel (the bruteForceTopK economics — swap an ANN shortlist in
    * for the 100 TB corpus; the counting is search-agnostic); the
    * top-k window shuffles (qid, id, sim) triples only; the truth join
    * is qid-keyed. Judged `q_mm_retrieval` (even→odd vec_id split with
    * qid+1 partners — the numbers are near-zero on random embeddings
    * and that is fine: both engines replay the identical brute force;
    * the VALUE contract — planted partners recovered — is pinned on
    * the separated clustered fixture in VectorSpec, the q_knn_acc
    * convention), fully ORACLED. */
  def retrievalRecall(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String,
      truth: DataFrame, truthQidCol: String, truthIdCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in 1..1000: $k")
    val top = rankTopK(cosinePairs(corpus.crossJoin(broadcast(queries)),
      idCol, vecCol, qidCol, qvecCol), "sim", ascending = false, k)
    truth.select(col(truthQidCol).as("qid"), col(truthIdCol).as("neighbor"))
      .join(top.select(col("qid"), col("neighbor"), col("rank")),
        Seq("qid", "neighbor"), "left")
      .agg(count(lit(1)).as("n_pairs"),
        count(when(col("rank") === 1, 1)).as("hits_at_1"),
        count(col("rank")).as("hits_at_k"),
        coalesce(sum(expr("1000000 div rank")), lit(0L)).as("__rr"))
      .select(col("n_pairs"), col("hits_at_1"), col("hits_at_k"),
        expr("hits_at_k * 1000 div n_pairs").as("recall_milli"),
        expr("__rr div n_pairs").as("mrr_micro"))
  }

  /** Deterministic pseudo-random unit-free hyperplanes for SimHash
    * bucketing: `numPlanes` x `dim` doubles from a fixed seed. Driver-side
    * constants folded into the plan as literals. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** SimHash bucket id of a vector: bit p = sign(v . plane_p). Buckets
    * partition the corpus into 2^numPlanes cells; cosine-similar vectors
    * land in the same cell with probability (1 - theta/pi)^numPlanes. */
  def simhashBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(v, typedLit(p)) > 0, lit(1 << i)).otherwise(lit(0))
    }.reduce(_ + _)

  /** IVF-style approximate top-k (the second scale path besides
    * [[annTopK]]'s hyperplane LSH): a coarse quantizer of `nCentroids`
    * cells — seeded with the [[hashSeeds]] rows, then sharpened by
    * `LloydIters` rounds of Lloyd's k-means (Lloyd 1982, public) — each
    * corpus vector assigned to its max-cosine centroid in the scan stage
    * (codegen argmax over `graft_dot` expressions — no shuffle), and each
    * query probing its `nProbe` nearest cells. Cost ≈ nProbe/nCentroids
    * of brute force; recall is data-dependent like all ANN (VectorSpec
    * measures it on the clustered corpus — the Lloyd rounds buy the same
    * ≥0.9 recall at HALF the r4 probe cost, nProbe 4 → 2). Each Lloyd
    * round is one scan-stage assignment plus one [[lloydRound]]
    * aggregate.
    */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      nCentroids: Int = 16, nProbe: Int = 4): DataFrame = {
    val cents = trainCells(corpus, vecCol,
      hashSeeds(corpus, idCol, vecCol, nCentroids))
    // query side: nProbe best cells via sorted (−sim, cid) struct array —
    // a 16-element HOF per QUERY row (queries are few; corpus side stays
    // in the codegen argmax)
    val probeCells = transform(slice(array_sort(array(
      cellSims(col(qvecCol), cents).zipWithIndex.map { case (si, i) =>
        struct((-si).as("neg"), lit(i).as("cid")) }: _*)), 1, nProbe),
      x => x.getField("cid"))
    val bucketed = corpus.withColumn("__cell", nearestCell(col(vecCol), cents))
    val probes = queries.withColumn("__cell", explode(probeCells))
    // a corpus row lives in ONE cell and a query's probe cells are
    // distinct, so each (query, neighbor) pair matches at most once —
    // no dedup pass needed
    rankTopK(cosinePairs(bucketed.join(broadcast(probes),
        bucketed("__cell") === probes("__cell") && col(qidCol) =!= col(idCol)),
      idCol, vecCol, qidCol, qvecCol), "sim", ascending = false, k)
  }

  /** Product-quantization approximate top-k (Jégou, Douze, Schmid,
    * "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
    * public): the third ANN path, and the one that changes the MEMORY
    * story at 100 TB — each corpus vector is compressed to `subspaces`
    * small codes (8 codes of 4 bits vs 64 doubles — a ~128× reduction at the judged defaults), and the
    * whole-corpus scoring pass touches ONLY codes.
    *
    * Train: the vector is split into `subspaces` contiguous sub-vectors;
    * each subspace gets its own `codebookSize`-centroid codebook — seeded
    * from the [[hashSeeds]] rows and sharpened by `LloydIters`
    * [[codebookRound]]s whose shuffles and driver state are
    * ≤ codebookSize × dim doubles — a KB-scale CONFIG read, never a data
    * collect. (At full scale, train on a sample; the codebook is corpus
    * metadata.)
    *
    * Encode: per row, per subspace, argmin-L2 over the codebook computed
    * as `‖c‖² − 2·x_m·c` — native `graft_dot` on array slices, scan
    * stage, no shuffle. Score (asymmetric distance computation): each
    * query precomputes a (subspaces × codebookSize) dot-product lookup
    * table from ITS sub-vectors; a candidate's approximate dot is then
    * `subspaces` table lookups + adds instead of a `dim`-wide multiply —
    * the per-pair cost cut that makes exhaustive scoring of a compressed
    * corpus feasible. The ADC scores feed [[shortlistRerank]].
    * Probabilistic recall → judged rows-only (`q_vec_pq`); VectorSpec
    * asserts ≥0.9 recall vs brute force on the clustered corpus.
    */
  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      subspaces: Int = 8, codebookSize: Int = 16): DataFrame = {
    // The corpus is scanned once per Lloyd round plus twice after (encode,
    // shortlist re-rank join) — persist for the operator's lifetime via the
    // registry so the next SparkEntry query releases it.
    val cached = graft.engine.Caches.persisted(corpus)

    // per-subspace codebooks from the deterministic seed rows; `dim` comes
    // from the same collect (no separate size-probe job)
    val seeds = hashSeeds(cached, idCol, vecCol, codebookSize)
    require(seeds.length == codebookSize,
      s"corpus smaller than codebookSize=$codebookSize")
    val dim = seeds.head.length
    require(dim % subspaces == 0, s"dim $dim not divisible into $subspaces subspaces")
    val ds = dim / subspaces

    var books: Array[Array[Seq[Double]]] =
      Array.tabulate(subspaces)(m => seeds.map(_.slice(m * ds, (m + 1) * ds)).toArray)
    // Encode/LUT are ONE native kernel expression each (graft_pq_encode /
    // graft_pq_lut over the flat subspace-major codebook literal): the
    // composed-builtin form needed subspaces × codebookSize dot-product
    // expressions under a least() + a codebookSize-branch CASE WHEN per
    // subspace — ~256 expression nodes per encode whose ANALYSIS and
    // codegen cost dominated the query's wall time (13.9s at sf0.1 for a
    // 2000-row corpus; r7 fix). The codebook rides along as corpus
    // metadata — a KB-scale array literal, never a data-shaped input.
    def bookLit: Column =
      typedLit(books.iterator.flatMap(_.iterator.flatten).toSeq)
    def encodeCol(v: Column): Column =
      call_function("graft_pq_encode", v, bookLit, lit(subspaces))
    // posexplode codes to (m, code), re-slice the sub-vector per code
    for (_ <- 1 to LloydIters)
      books = codebookRound(cached
        .select(col(vecCol).as("__v"),
          posexplode(encodeCol(col(vecCol))).as(Seq("m", "c")))
        .select(col("m"), col("c"),
          posexplode(slice(col("__v"), col("m") * ds + 1, lit(ds))).as(Seq("pos", "x"))),
        "x", books)

    val encoded = cached.select(col(idCol), encodeCol(col(vecCol)).as("__codes"))
    // flat (subspaces × codebookSize) LUT per query; entry s·K + c is
    // q_s · centroid_{s,c}
    val qlut = queries.select(col(qidCol), col(qvecCol),
      call_function("graft_pq_lut", col(qvecCol), bookLit, lit(subspaces)).as("__lut"))
    // ADC pass over codes only: subspaces lookups + adds per pair
    val adc = encoded.join(broadcast(qlut), col(qidCol) =!= col(idCol))
      .select(col(qidCol).as("qid"), col(qvecCol).as("__qv"),
        col(idCol).as("neighbor"),
        (0 until subspaces).map(m =>
          element_at(col("__lut"),
            lit(m * codebookSize) + element_at(col("__codes"), m + 1) + 1))
          .reduce(_ + _).as("__adc"))
    shortlistRerank(adc, "__adc", ascending = false, cached, idCol, vecCol, k)
  }

  /** IVF-PQ approximate top-k (Jégou et al. 2011 §V, the faiss
    * `IndexIVFPQ`) — the ANN ladder's capstone, composing the two
    * orthogonal cost cuts: [[ivfTopK]]'s coarse cells prune WHICH rows
    * are scored (nProbe/nCells of the corpus) and [[pqTopK]]'s codes
    * cut WHAT a scored row costs (subspaces lookups over ~bytes), with
    * PQ trained on RESIDUALS v − c_cell — residuals concentrate near 0
    * so one shared codebook set covers every cell far better than
    * raw-vector PQ. The decomposition `q·(c + Σ b) = q·c + Σ q_m·b_m`
    * keeps everything kernel-shaped WITHOUT a vector-subtract op:
    * encoding v against the residual books is encoding v against the
    * cell-SHIFTED books {c_m + b_j} (one `graft_pq_encode` per cell
    * under a CASE — exactly one kernel evaluates per row; K kernel
    * nodes, never the K² expression-tree trap), the per-query LUT is
    * the cell-INDEPENDENT `graft_pq_lut` on the residual books, and
    * q·c_cell rides the probe row as a precomputed scalar. The ADC
    * scores feed [[shortlistRerank]] as in [[pqTopK]]. Residual-book
    * Lloyd rounds are [[codebookRound]]s over (subspace, code, pos)
    * residuals, a CONFIG-scale collect like the coarse rounds.
    *
    * Probabilistic recall → judged rows-only (`q_vec_ivfpq`) plus the
    * driver-judged recall contract `q_vec_ivfpq_recall` (≥0.9@10 on
    * the capped clustered fixture, the LSH/IVF/PQ/SQ8/BQ bar);
    * shortlist-equality at full probe and recall pinned in VectorSpec. */
  def ivfPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      nCells: Int = 8, nProbe: Int = 2, subspaces: Int = 8,
      codebookSize: Int = 16): DataFrame = {
    require(nProbe >= 1 && nProbe <= nCells, s"nProbe 1..$nCells: $nProbe")
    val cached = graft.engine.Caches.persisted(corpus)
    val seedVecs = hashSeeds(cached, idCol, vecCol, math.max(nCells, codebookSize))
    require(seedVecs.length >= math.max(nCells, codebookSize),
      s"corpus smaller than max(nCells, codebookSize)")
    val dim = seedVecs.head.length
    require(dim % subspaces == 0,
      s"dim $dim not divisible into $subspaces subspaces")
    val ds = dim / subspaces

    // ---- coarse quantizer: the ivfTopK seeding + Lloyd rounds ----
    val cents = trainCells(cached, vecCol, seedVecs.take(nCells))
    val cellCol = nearestCell(col(vecCol), cents)
    // driver-side twin of `cellCol` for residual seeds: same left-fold
    // dot, same first-max tie rule
    def cellOf(v: Seq[Double]): Int = {
      val sims = cents.map { c =>
        var s = 0.0; var i = 0
        while (i < dim) { s += v(i) * c(i); i += 1 }
        s / math.sqrt(c.map(x => x * x).sum)
      }
      sims.indexOf(sims.max)
    }

    // ---- residual PQ books, seeded from the seed rows' residuals ----
    var books: Array[Array[Seq[Double]]] = Array.tabulate(subspaces) { m =>
      seedVecs.take(codebookSize).map { v =>
        val c = cents(cellOf(v))
        (0 until ds).map(i => v(m * ds + i) - c(m * ds + i))
      }.toArray
    }
    def shiftedBookLit(cell: Int): Column =
      typedLit((0 until subspaces).flatMap(m => books(m).flatMap(b =>
        (0 until ds).map(i => cents(cell)(m * ds + i) + b(i)))).toSeq)
    def encodeCol(v: Column, cell: Column): Column =
      (1 until nCells).foldLeft(when(cell === 0,
          call_function("graft_pq_encode", v, shiftedBookLit(0),
            lit(subspaces)))) { (acc, c) =>
        acc.when(cell === c,
          call_function("graft_pq_encode", v, shiftedBookLit(c),
            lit(subspaces)))
      }
    val centFlat = typedLit(cents.iterator.flatMap(_.iterator).toSeq)
    for (_ <- 1 to LloydIters)
      books = codebookRound(cached.withColumn("__cell", cellCol)
        .select(col("__cell"), col(vecCol).as("__v"),
          posexplode(encodeCol(col(vecCol), col("__cell")))
            .as(Seq("m", "c")))
        .select(col("m"), col("c"), col("__cell"),
          posexplode(slice(col("__v"), col("m") * ds + 1, lit(ds)))
            .as(Seq("pos", "x")))
        .select(col("m"), col("c"),
          (col("x") - element_at(centFlat,
            (col("__cell") * dim + col("m") * ds + col("pos") + 1)
              .cast("int"))).as("rx"), col("pos")),
        "rx", books)

    val encoded = cached.withColumn("__cell", cellCol)
      .select(col(idCol), col("__cell"),
        encodeCol(col(vecCol), col("__cell")).as("__codes"))
    // probe rows carry (cell, q·c_cell); sorted (−sim, cid) like ivfTopK
    def probeStructs(v: Column): Column = {
      val arr = array(cents.zipWithIndex.map { case (c, i) =>
        val n = math.sqrt(c.map(x => x * x).sum)
        struct((dot(v, typedLit(c)) / lit(-n)).as("neg"),
          lit(i).as("cid"), dot(v, typedLit(c)).as("qdotc"))
      }: _*)
      slice(array_sort(arr), 1, nProbe)
    }
    val resBookLit =
      typedLit(books.iterator.flatMap(_.iterator.flatMap(_.iterator)).toSeq)
    val qlut = queries.select(col(qidCol), col(qvecCol),
        call_function("graft_pq_lut", col(qvecCol), resBookLit,
          lit(subspaces)).as("__lut"),
        explode(probeStructs(col(qvecCol))).as("__p"))
      .select(col(qidCol), col(qvecCol), col("__lut"),
        col("__p.cid").as("__pcell"), col("__p.qdotc").as("__qdotc"))
    val adc = encoded.join(broadcast(qlut),
        col("__cell") === col("__pcell") && col(qidCol) =!= col(idCol))
      .select(col(qidCol).as("qid"), col(qvecCol).as("__qv"),
        col(idCol).as("neighbor"),
        (col("__qdotc") + (0 until subspaces).map(m =>
          element_at(col("__lut"), lit(m * codebookSize) +
            element_at(col("__codes"), m + 1) + 1)).reduce(_ + _))
          .as("__adc"))
    shortlistRerank(adc, "__adc", ascending = false, cached, idCol, vecCol, k)
  }

  /** Scalar (int8) quantization of an embedding column — the STORAGE
    * scale path next to [[pqTopK]]'s code-compression: each vector keeps
    * a per-vector `(vmin, scale)` affine map and 1 byte/dim codes (4×
    * smaller than float32; `code = round((x − vmin)/scale)`, `scale =
    * (max − min)/255`), bounding reconstruction error at `scale/2` per
    * component — the faiss `SQ8` / Milvus `SQ8` index family. Encode,
    * error, asymmetric dot and dequantized norm are native kernels
    * (`graft_sq8_*` — a `transform` lambda would evaluate interpreted on
    * the per-row corpus path), so quantization is one scan-stage pass:
    * no shuffle, no collect, 100 TB-shaped by construction. A constant
    * vector (scale 0) encodes all-zero codes and dequantizes to exactly
    * `vmin`. Output: (`idCol`, codes binary, vmin, scale, norm) — norm
    * is the DEQUANTIZED vector's L2, computed at index time so cosine
    * ranking at query time touches only codes. Judged `q_vec_sq8`
    * (per-vector max reconstruction error in micros, fully oracled);
    * error bound and round-trip pinned in VectorSpec. */
  def scalarQuantize(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol), col(vecCol).as("__v"),
        array_min(col(vecCol)).as("vmin"),
        ((array_max(col(vecCol)) - array_min(col(vecCol))) / lit(255.0))
          .as("scale"))
      .select(col(idCol),
        call_function("graft_sq8_codes", col("__v"), col("vmin"),
          col("scale")).as("codes"),
        col("vmin"), col("scale"))
      .withColumn("norm",
        call_function("graft_sq8_norm", col("codes"), col("vmin"),
          col("scale")))

  /** SQ8 approximate top-k (ANN path 4): the corpus pass reads 1-byte
    * codes instead of float vectors — `graft_sq8_dot` dequantizes on the
    * fly inside the kernel loop (query stays float; the asymmetric trick
    * of SQ search), ranked by cosine against the index-time dequantized
    * norm, then [[shortlistRerank]] — the same shortlist-then-exact
    * shape as [[pqTopK]], at 4× less corpus traffic than brute force
    * with near-exact candidate order (SQ8's ~0.4% per-component error
    * vs PQ's subspace collapse). Judged `q_vec_sq8_recall` (recall@10 on
    * the clustered fixture, driver-judged like the LSH/IVF/PQ rows). */
  def sq8TopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int): DataFrame = {
    val cached = graft.engine.Caches.persisted(corpus)
    val index = scalarQuantize(cached, idCol, vecCol)
    val approx = index.join(broadcast(queries), col(qidCol) =!= col(idCol))
      .select(col(qidCol).as("qid"), col(qvecCol).as("__qv"),
        col(idCol).as("neighbor"),
        when(col("norm") > 0,
          call_function("graft_sq8_dot", col(qvecCol), col("codes"),
            col("vmin"), col("scale")) / col("norm"))
          .otherwise(lit(-2.0)).as("__s"))
    shortlistRerank(approx, "__s", ascending = false, cached, idCol, vecCol, k)
  }

  /** Binary-quantization approximate top-k (ANN path 5, the COARSEST
    * rung of the quantization ladder: BQ → SQ8 → PQ → exact): the
    * corpus pass reads sign-bit codes — `ceil(dim/64)` longs per
    * vector, 8 bytes for a dim-64 embedding, 32× less traffic than even
    * SQ8 — ranked by Hamming distance (one XOR+POPCNT per 64 dims in
    * the `graft_hamming` kernel; for sign codes, Hamming is a monotone
    * proxy for angular distance — the SimHash identity), then
    * [[shortlistRerank]], the same shortlist-then-exact shape as
    * [[sq8TopK]]/[[pqTopK]]. The scan-everything-cheaply alternative to
    * [[annTopK]]'s bucket pruning: no recall cliff from bucket misses,
    * corpus traffic 1 bit/dimension. Judged `q_vec_bq` (pack+Hamming
    * kernels fully oracled pairwise) and `q_vec_bq_recall` (recall@10
    * on the clustered fixture, driver-judged like the other ANN rows). */
  def bqTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int): DataFrame = {
    val cached = graft.engine.Caches.persisted(corpus)
    val index = cached.select(col(idCol),
      call_function("graft_bq_pack", col(vecCol)).as("__codes"))
    val qs = queries.select(col(qidCol), col(qvecCol),
      call_function("graft_bq_pack", col(qvecCol)).as("__qcodes"))
    val approx = index.join(broadcast(qs), col(qidCol) =!= col(idCol))
      .select(col(qidCol).as("qid"), col(qvecCol).as("__qv"),
        col(idCol).as("neighbor"),
        call_function("graft_hamming", col("__codes"), col("__qcodes"))
          .as("__h"))
    shortlistRerank(approx, "__h", ascending = true, cached, idCol, vecCol, k)
  }

  /** Embedding-cosine near-duplicate pairs, EXACT: all (da < db) with
    * `cosine >= threshold`. Norms are computed once per side before the
    * join, so the per-pair work is a single native dot product.
    *
    * The pair space is quadratic — this is the oracle-checkable baseline
    * for bounded corpora (≤ ~10^5 vectors; one side broadcast, the other
    * streamed). At 100 TB use [[cosineNearDupBucketed]], which prunes the
    * pair space through the same SimHash buckets as [[annTopK]].
    */
  def cosineNearDup(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val e = emb.select(col(idCol), col(vecCol),
      sqrt(dot(col(vecCol), col(vecCol))).as("__n"))
    val a = e.select(col(idCol).as("da"), col(vecCol).as("__va"), col("__n").as("__na"))
    val b = e.select(col(idCol).as("db"), col(vecCol).as("__vb"), col("__n").as("__nb"))
    a.join(b, col("da") < col("db"))
      .withColumn("sim", dot(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
      .filter(col("sim") >= threshold)
      .select(col("da"), col("db"), col("sim"))
  }

  /** Semantic benchmark decontamination — the embedding-space sibling of
    * [[Dedup.decontaminate]]: n-gram overlap catches verbatim and
    * near-verbatim leaks, but a PARAPHRASED eval example shares no
    * shingles with its source; its embedding still sits next to it.
    * Flags every train row whose vector lies within cosine `threshold`
    * of ANY eval vector, returning (id, n_close, max_sim) — the evidence
    * a filtering run reports, ordered by the caller.
    *
    * Scale shape mirrors the n-gram pass exactly: the eval side —
    * benchmarks are MBs against a 100 TB corpus — is BROADCAST, the
    * train corpus streams through one scan with the native `graft_dot`
    * kernel per (row, eval) pair, and only flagged pairs reach the
    * per-doc aggregate; the corpus is never shuffled. Cost is
    * |train|·|eval| dot products at d multiply-adds each — for eval
    * sets past ~10^5 vectors, prefilter candidates through the SimHash
    * buckets of [[cosineNearDupBucketed]] before the exact verify.
    * Judged `q_sem_decontam`, fully oracled via `list_cosine_similarity`. */
  def semanticDecontaminate(train: DataFrame, idCol: String, vecCol: String,
      eval: DataFrame, evalVecCol: String, threshold: Double): DataFrame = {
    val tr = train.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__n", sqrt(dot(col("__v"), col("__v"))))
    val ev = eval.select(col(evalVecCol).cast("array<double>").as("__ev"))
      .withColumn("__en", sqrt(dot(col("__ev"), col("__ev"))))
    tr.crossJoin(broadcast(ev))
      .withColumn("sim", dot(col("__v"), col("__ev")) / (col("__n") * col("__en")))
      .filter(col("sim") >= threshold)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_close"), max(col("sim")).as("max_sim"))
  }

  /** Embedding-cosine near-duplicate pairs, bucketed (the 100 TB path):
    * candidates limited to pairs whose SimHash buckets lie within Hamming
    * distance `hamming` (multi-probe on one side), then exact cosine +
    * threshold. Probabilistic recall — a pair at angle θ survives with
    * P(≤ hamming of numPlanes bits differ), each bit differing with
    * probability θ/π — so judged rows-only; the exact twin is
    * [[cosineNearDup]]. */
  def cosineNearDupBucketed(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numPlanes: Int = 8, hamming: Int = 2,
      dim: Option[Int] = None): DataFrame = {
    val d = dim.getOrElse(emb.select(size(col(vecCol))).head.getInt(0))
    val planes = hyperplanes(numPlanes, d)
    val e = emb.select(col(idCol), col(vecCol),
      simhashBucket(col(vecCol), planes).as("__bucket"),
      sqrt(dot(col(vecCol), col(vecCol))).as("__n"))
    // a-side expands to its probe set; b-side keeps its exact bucket.
    val probed = e.select(col(idCol).as("da"), col(vecCol).as("__va"),
      col("__n").as("__na"),
      explode(array(probeMasks(numPlanes, hamming).map(m =>
        col("__bucket").bitwiseXOR(lit(m))): _*)).as("__probe"))
    val other = e.select(col(idCol).as("db"), col(vecCol).as("__vb"),
      col("__n").as("__nb"), col("__bucket"))
    probed.join(other, col("__probe") === col("__bucket") && col("da") < col("db"))
      .select(col("da"), col("db"),
        (dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("sim"))
      .filter(col("sim") >= threshold)
      .distinct() // a pair can meet through several probes
  }

  /** All XOR masks within Hamming distance `maxDist` of zero, over
    * `numPlanes` bits — the multi-probe sequence (driver-side constants;
    * e.g. 8 planes, dist 2 → 1+8+28 = 37 probes of 256 buckets). */
  def probeMasks(numPlanes: Int, maxDist: Int): Seq[Int] =
    (0 until (1 << numPlanes)).filter(m => Integer.bitCount(m) <= maxDist)

  /** Approximate top-k: hyperplane-LSH bucketed search with multi-probe.
    *
    * The corpus is bucketed once (scan-stage expression, no shuffle);
    * each query probes its own bucket plus every bucket within Hamming
    * distance `hamming` (multi-probe LSH — recovers the recall lost to
    * boundary vectors at a fraction of the brute-force cost: 8 planes,
    * hamming=2 → 37/256 ≈ 14% of the corpus per query in expectation).
    * Candidates come from a bucket equi-join, then exact cosine +
    * per-query top-k.
    *
    * Recall is DATA-DEPENDENT: hyperplane collision probability is
    * (1-θ/π) per plane, so the method presumes neighbor structure (true
    * neighbors at small angles). On uniform-random vectors — e.g. the
    * harness `embeddings` corpus, whose top-1 cosine is ≈0.37 — no
    * bucketing scheme prunes without losing recall (curse of
    * dimensionality); use [[bruteForceTopK]] there. VectorSpec asserts
    * recall >= 0.9 on a clustered corpus and documents the uniform case.
    * Probabilistic recall → judged rows-only.
    *
    * `dim` defaults to the width of the first corpus vector (one 1-row
    * driver lookup). A vector of any OTHER width would silently zip_with
    * null-pad, null every dot product, and collapse the "ANN" join into a
    * cross product — so bucketing fails fast on width mismatch instead
    * (`raise_error`, evaluated inside the scan projection).
    */
  def annTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      numPlanes: Int = 8, dim: Option[Int] = None, hamming: Int = 1): DataFrame = {
    val d = dim.getOrElse(corpus.select(size(col(vecCol))).head.getInt(0))
    val planes = hyperplanes(numPlanes, d)
    def guarded(v: Column): Column =
      when(size(v) === d, simhashBucket(v, planes))
        .otherwise(raise_error(concat(
          lit(s"annTopK: embedding width != $d: "), size(v).cast("string"))))
    val bucketed = corpus
      .withColumn("__bucket", guarded(col(vecCol)))
    val probes = queries
      .withColumn("__qbucket", guarded(col(qvecCol)))
      .withColumn("__probe", explode(array(
        probeMasks(numPlanes, hamming).map(m =>
          col("__qbucket").bitwiseXOR(lit(m))): _*)))
    val pairs = cosinePairs(bucketed.join(broadcast(probes),
        col("__bucket") === col("__probe") && col(qidCol) =!= col(idCol)),
      idCol, vecCol, qidCol, qvecCol)
      .distinct() // a neighbor can match several probes of one query
    rankTopK(pairs, "sim", ascending = false, k)
  }

  /** Semantic deduplication (SemDeDup — Abbas et al. 2023, public): keep
    * one representative of every group of embedding-near-identical docs.
    * The keep policy is deterministic and SQL-expressible — a row is
    * DROPPED iff some LOWER-id row sits within cosine ≥ `threshold` —
    * so the exact form is fully oracle-checkable with a NOT EXISTS
    * (`q_sem_dedup`); note this is greedy-by-id, not transitive-closure
    * (for cluster-closure curation see the connected-components path,
    * `q_curate_cc`). Returns the KEPT rows of `emb` unchanged.
    *
    * Exact form is quadratic in the pair space (the [[cosineNearDup]]
    * baseline, documented ≤10^5 rows); [[semanticDedupBucketed]] is the
    * linear scale path over SimHash buckets. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val drops = cosineNearDup(emb, idCol, vecCol, threshold)
      .select(col("db").as(idCol)).distinct()
    emb.join(drops, Seq(idCol), "left_anti")
  }

  /** [[semanticDedup]]'s 100 TB twin: candidate pairs from SimHash
    * buckets within Hamming distance `hamming` ([[cosineNearDupBucketed]]
    * — linear in corpus size for clustered data) instead of the quadratic
    * all-pairs join. Drop decisions are exact cosine on candidates only;
    * a near-pair missed by bucketing keeps both rows (recall loss, never
    * a false drop), so judged rows-only on real embeddings
    * (`q_sem_dedup_ann`) with the exact twin oracled — and the bucketed
    * path itself is hash-judged on the axis-aligned arithmetic fixture
    * (`q_sem_dedup_lsh`: in-group cosine exactly 1, cross-group exactly
    * 0, kept set = the group minima). */
  def semanticDedupBucketed(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, numPlanes: Int = 8, hamming: Int = 2): DataFrame = {
    val drops = cosineNearDupBucketed(emb, idCol, vecCol, threshold,
        numPlanes, hamming)
      .select(col("db").as(idCol)).distinct()
    emb.join(drops, Seq(idCol), "left_anti")
  }

  /** K-means cluster assignment (Lloyd 1982) — clustering as a
    * first-class operator rather than [[ivfTopK]]'s internal
    * quantizer: SemDeDup-style curation clusters FIRST and prunes
    * within clusters, and mixture analysis / stratified pruning key on
    * the cluster id. Euclidean objective; `argmin ‖v−c‖²` reduces to
    * `argmin (‖c‖² − 2v·c)` so each round's assignment is a codegen
    * argmin over k `graft_dot` terms in the SCAN stage — no shuffle,
    * no crossJoin against a centroid table. Each Lloyd round is one
    * [[lloydRound]], the same kernel as [[ivfTopK]]'s — the shuffle and
    * the driver-side state are k×d doubles. Deterministic:
    * FARTHEST-FIRST seeding (Gonzalez 1985 k-center traversal — seed 1
    * is the first vector in xxhash64(id) order, each next seed
    * maximizes its distance to the chosen set, ties by the hash) —
    * hash-order-only seeding can put two seeds in one true cluster and
    * Lloyd then converges to the split/merge local optimum; farthest-
    * first provably covers well-separated clusters before refinement.
    * Costs k extra scan+top-1 passes (each a TakeOrdered, no shuffle);
    * at a scale where k full scans hurt, run the traversal on a
    * deterministic sample instead (same code path on a `sample`
    * input). Outlier-prone by construction — the Lloyd rounds pull
    * seeds back to mass. Ties in the argmin break to the lower cluster
    * id. Keep k modest (≤ ~32): the
    * assignment expression is k dot terms wide (the q_vec_pq
    * expression-tree lesson — at larger k, encode the centroid table
    * in a kernel as pq does). Cluster ids aren't SQL-expressible →
    * judged `q_kmeans` rows-only; exact recovery of separated clusters
    * pinned in VectorSpec. */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 5): DataFrame = {
    require(k >= 1 && iters >= 1)
    val v = col(vecCol).cast("array<double>")
    // seeding, every Lloyd round, and the final assignment all rescan
    // the source — persist via the registry like the other
    // multi-consumer operators (k-1 + iters + 1 passes otherwise
    // re-read the parquet each time)
    val src = graft.engine.Caches.persisted(
      emb.select(col(idCol), v.as(vecCol)))
    val vv = col(vecCol)
    var cents = hashSeeds(src, idCol, vecCol, 1)
    require(cents.nonEmpty, "kmeansAssign: empty input")
    while (cents.size < k) {
      // next seed: maximal min-distance² to the chosen set (ties by
      // hash). |v|² matters here — the comparison is across ROWS, not
      // across centroids, so the per-row constant doesn't cancel.
      val terms = cents.map(c =>
        lit(c.map(x => x * x).sum) - lit(2.0) * dot(vv, typedLit(c)))
      val minDist = dot(vv, vv) +
        (if (terms.size == 1) terms.head else least(terms: _*))
      val next = src
        .select(vv.as("__v"), minDist.as("__d"), xxhash64(col(idCol)).as("__t"))
        .orderBy(col("__d").desc, col("__t"))
        .limit(1).collect().head.getSeq[Double](0).toSeq
      cents = cents :+ next
    }
    def assign(vc: Column): Column =
      // k = 1: every row is cluster 0 (array_min needs no special case,
      // but skipping the array build entirely is free)
      if (cents.size == 1) lit(0)
      else {
        // scores once into an array, argmin = first position of the
        // min — the K-branch CASE form re-inlined least(K dots) per
        // branch and overflows codegen method limits as K·d grows
        // (the q_vec_ivf fix, applied to the same pattern here)
        val scores = cents.map(c =>
          lit(c.map(x => x * x).sum) - lit(2.0) * dot(vc, typedLit(c)))
        val arr = array(scores: _*)
        (array_position(arr, array_min(arr)) - 1).cast("int")
      }
    for (_ <- 1 to iters)
      cents = lloydRound(src.withColumn("__cell", assign(vv)), vv, cents)
    src.select(col(idCol), assign(vv).as("cluster"))
  }

  /** PCA projection onto the top-`k` principal components — the
    * embedding dimensionality reduction step (visualization, whitening
    * before clustering, cheap pre-filters ahead of exact cosine).
    *
    * Shape, stage by stage, sized for 100 TB:
    *  1. MOMENTS: one `mapPartitions` pass accumulates per-partition
    *     `(n, Σv, Σvvᵀ)` — d + d² doubles of state per TASK — and
    *     `reduce` merges the per-partition triples; the driver ends up
    *     holding ONE (d, d²) summary (64 KB at d = 64), never rows.
    *     This is the treeAggregate pattern, not a corpus shuffle: the
    *     only data movement is partials-to-driver.
    *  2. EIGEN: covariance `E[vvᵀ] − μμᵀ` and top-k eigenvectors by
    *     power iteration with deflation, driver-side on the d×d matrix
    *     — config-scale math, the same bounded-state stance as
    *     [[ivfTopK]]'s centroids; sign canonicalized (first
    *     nonzero component positive) so output is deterministic.
    *  3. PROJECT: scan-stage `graft_dot` against each (broadcast-
    *     literal) component minus the centering constant — zero
    *     shuffle, whole-stage codegen.
    *
    * Eigenvectors aren't SQL-expressible → judged `q_vec_pca`
    * rows-only; VectorSpec pins direction recovery and the variance
    * ordering on an anisotropic corpus. */
  def pcaProject(emb: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    import emb.sparkSession.implicits._
    val vecs = emb.select(col(vecCol).cast("array<double>")).as[Seq[Double]]
    val (n, sums, raw) = try vecs
      .mapPartitions { it =>
        var n = 0L
        var sums: Array[Double] = null
        var s: Array[Double] = null
        it.foreach { v =>
          val d = v.size
          if (sums == null) { sums = new Array[Double](d); s = new Array[Double](d * d) }
          require(d == sums.length,
            s"pcaProject: ragged embedding width $d vs ${sums.length}")
          var i = 0
          while (i < d) {
            val vi = v(i)
            sums(i) += vi
            var j = 0
            while (j < d) { s(i * d + j) += vi * v(j); j += 1 }
            i += 1
          }
          n += 1
        }
        if (n == 0) Iterator.empty
        else Iterator.single((n, sums.toSeq, s.toSeq))
      }
      .reduce { (a, b) =>
        // cross-partition ragged widths would silently truncate in zip
        require(a._2.size == b._2.size,
          s"pcaProject: ragged embedding width ${b._2.size} vs ${a._2.size}")
        (a._1 + b._1,
          a._2.lazyZip(b._2).map(_ + _),
          a._3.lazyZip(b._3).map(_ + _))
      }
    catch {
      // empty input reaches reduce's bare "empty collection" error
      // before the n > 1 require below — re-throw the contract message.
      // Message-guarded so an unrelated UOE from inside the partition
      // function isn't mislabeled as the empty-input case.
      case e: UnsupportedOperationException
          if e.getMessage != null && e.getMessage.contains("empty collection") =>
        throw new IllegalArgumentException(
          "requirement failed: pcaProject needs > 1 vector, got 0")
    }
    val d = sums.size
    require(n > 1, s"pcaProject needs > 1 vector, got $n")
    val mean = sums.map(_ / n).toArray
    val cov = Array.tabulate(d, d)((i, j) => raw(i * d + j) / n - mean(i) * mean(j))
    val pcs = Vectors.topEigenvectors(cov, k)
    val vCol = col(vecCol).cast("array<double>")
    val projections = pcs.zipWithIndex.map { case (pc, c) =>
      val pcLit = typedLit(pc.toSeq)
      val center = pc.lazyZip(mean).map(_ * _).sum
      (dot(vCol, pcLit) - lit(center)).as(s"pc${c + 1}")
    }
    emb.select(col(idCol) +: projections: _*)
  }

  /** Top-k eigenvectors of a small symmetric matrix by power iteration
    * with deflation — driver-side config-scale math for [[pcaProject]];
    * deterministic start vector and canonical sign. */
  private[operators] def topEigenvectors(m0: Array[Array[Double]],
      k: Int): Seq[Array[Double]] = {
    val d = m0.length
    val m = m0.map(_.clone())
    def mul(v: Array[Double]): Array[Double] =
      Array.tabulate(d)(i => {
        var s = 0.0; var j = 0
        while (j < d) { s += m(i)(j) * v(j); j += 1 }
        s
      })
    (0 until math.min(k, d)).map { _ =>
      var v = Array.tabulate(d)(i => 1.0 + 0.01 * i) // deterministic, generic
      var it = 0
      while (it < 300) {
        val w = mul(v)
        val nrm = math.sqrt(w.map(x => x * x).sum)
        if (nrm == 0) it = 300 // null space: keep current v
        else { v = w.map(_ / nrm); it += 1 }
      }
      val lambda = v.lazyZip(mul(v)).map(_ * _).sum
      // deflate: m -= λ v vᵀ
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) { m(i)(j) -= lambda * v(i) * v(j); j += 1 }
        i += 1
      }
      val sign = v.find(math.abs(_) > 1e-12).map(x => if (x < 0) -1.0 else 1.0).getOrElse(1.0)
      v.map(_ * sign)
    }
  }

  /** Deterministic clustered synthetic embedding corpus — one vector per
    * input id, clusters by `id % numClusters`. Exists because ANN recall
    * is only measurable on CLUSTERED data (harness embeddings are
    * uniform-random, where top-1 cosine ≈ 0.37 and no bucketing can
    * prune without losing recall — CLAUDE.md), and because a JUDGED
    * recall query needs a fixture both engines can agree on: the id set
    * comes from a real table, the vectors from pure arithmetic, and the
    * oracle never has to touch vector math at all (it predicts the id
    * set that passes the recall bar — see `q_vec_ann_recall`).
    *
    * Construction, all scan-stage expressions (no literal tables, no
    * HOFs): cluster center component j is `cos((c+1)(j+1))` — measured
    * max cross-cluster cosine 0.14 at d=16, C=10 — plus per-component
    * uniform jitter in ±`noise` derived from `xxhash64(id, j)`. Cosine
    * is scale-invariant so the vectors are left unnormalized. */
  def syntheticClustered(ids: DataFrame, idCol: String, numClusters: Int,
      dim: Int, noise: Double): DataFrame = {
    require(numClusters >= 2 && dim >= 2 && noise >= 0)
    val id = col(idCol).cast("long")
    val c = pmod(id, lit(numClusters)).cast("double")
    val comps = (0 until dim).map { j =>
      cos((c + lit(1.0)) * lit((j + 1).toDouble)) +
        (pmod(xxhash64(id, lit(j)), lit(10007L)).cast("double") / lit(5003.5) -
          lit(1.0)) * lit(noise)
    }
    ids.select(id.as(idCol), array(comps: _*).as("vec"))
  }

  /** MMR diversified top-k — maximal marginal relevance (Carbonell &
    * Goldstein 1998), the rerank between retrieval and the user: after
    * [[bruteForceTopK]] (or any ANN path) shortlists `fetch`
    * candidates, picks greedily maximize
    * `λ·rel − (1−λ)·max_{s∈selected} sim(c, s)` — relevance traded
    * against redundancy, so ten near-duplicates of the best hit can't
    * crowd out the second topic. Rank 1 is ALWAYS the most relevant
    * candidate (the standard convention — with nothing selected the
    * diversity term is void); every later tie breaks to the smaller
    * id, so `λ = 1000‰` reproduces the brute-force order exactly
    * (pinned) and `λ = 0` is farthest-first coverage.
    *
    * Scale: the expensive part is the shortlist (whichever retrieval
    * path produced it); the greedy rerank is per-query
    * `groupByKey.flatMapGroups` over ≤ `fetch` candidates — the
    * journeys escalation: O(k·fetch) sims per QUERY row, never a
    * corpus-scale loop. Judged `q_vec_mmr` in the recall-contract
    * style (λ-extremes: full cluster coverage at 0, brute-force
    * equality at 1000 — both id arithmetic to the oracle); order
    * equivalence, coverage and short-candidate edges pinned in
    * VectorSpec. */
  def mmrTopK(corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      fetch: Int = 100, lambdaMilli: Int = 700): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(fetch >= k, s"fetch must be >= k: $fetch < $k")
    require(lambdaMilli >= 0 && lambdaMilli <= 1000,
      s"lambdaMilli must be in 0..1000: $lambdaMilli")
    val session = corpus.sparkSession
    import session.implicits._
    val lam = lambdaMilli / 1000.0
    val short = bruteForceTopK(corpus, idCol, vecCol, queries, qidCol,
      qvecCol, fetch)
      .join(corpus.select(col(idCol).as("neighbor"),
        col(vecCol).cast("array<double>").as("__nv")), "neighbor")
      .select(col("qid").cast("long"), col("neighbor").cast("long"),
        col("sim").cast("double"), col("__nv"))
      .as[(Long, Long, Double, Seq[Double])]
    short.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        val cand = it.toArray.sortBy(t => (-t._3, t._2))
        val vs = cand.map(_._4.toArray)
        def cos(a: Array[Double], b: Array[Double]): Double = {
          var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < a.length) {
            d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
          }
          val n = math.sqrt(na) * math.sqrt(nb)
          if (n == 0.0) 0.0 else d / n
        }
        val n = cand.length
        val chosen = new Array[Boolean](n)
        val maxSim = new Array[Double](n)
        val out = Seq.newBuilder[(Long, Int, Long, Double)]
        var rank = 1
        while (rank <= math.min(k, n)) {
          var best = -1; var bestScore = 0.0
          var i = 0
          while (i < n) {
            if (!chosen(i)) {
              val score =
                if (rank == 1) cand(i)._3
                else lam * cand(i)._3 - (1.0 - lam) * maxSim(i)
              if (best < 0 || score > bestScore ||
                  (score == bestScore && cand(i)._2 < cand(best)._2)) {
                best = i; bestScore = score
              }
            }
            i += 1
          }
          chosen(best) = true
          out += ((qid, rank, cand(best)._2, cand(best)._3))
          var j = 0
          while (j < n) {
            if (!chosen(j)) {
              val s = cos(vs(j), vs(best))
              if (s > maxSim(j)) maxSim(j) = s
            }
            j += 1
          }
          rank += 1
        }
        out.result().iterator
      }
      .toDF("qid", "rank", "neighbor", "rel")
  }

  /** Per-label centroid distance — the embedding-space outlier /
    * prototypicality score (the SSL-prototypes pruning signal of
    * Sorscher et al. 2022, and SemDeDup's cluster-extremity ranking):
    * Euclidean distance from each vector to its label's mean vector.
    *
    * Plan shape: centroids come from ONE posexplode + (label, pos)
    * partial-aggregated avg — the shuffle carries labels×dim rows, not
    * the corpus — and broadcast back; the per-row distance is
    * `√(|v|² − 2·v·c + |c|²)` with both inner products on the native
    * `graft_dot` kernel, so the corpus pass stays in whole-stage
    * codegen with zero corpus shuffle. Judged `q_vec_centroid`, fully
    * oracled via DuckDB list/unnest arithmetic. */
  def centroidDistance(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val cents = emb
      .select(col(labelCol), posexplode(v).as(Seq("__p", "__x")))
      .groupBy(col(labelCol), col("__p"))
      .agg(avg(col("__x")).as("__m"))
      .groupBy(col(labelCol))
      .agg(array_sort(collect_list(struct(col("__p"), col("__m"))))
        .getField("__m").as("__c"))
    emb.join(broadcast(cents), labelCol)
      .select(col(idCol), col(labelCol),
        sqrt(greatest(dot(v, v) - lit(2.0) * dot(v, col("__c")) +
          dot(col("__c"), col("__c")), lit(0.0))).as("dist"))
  }

  /** DBSCAN over 2-D points (Ester, Kriegel, Sander, Xu 1996) — the
    * density clusterer next to [[kmeansAssign]]: no k, arbitrary
    * cluster shapes, and an explicit NOISE verdict (cluster = null) —
    * the outlier-tolerant geometry pass (UMAP/t-SNE projections, geo
    * points, 2-D feature pairs). Semantics are the exact textbook ones
    * with the one order-dependence removed: a point is CORE iff its
    * closed ε-ball holds ≥ minPts points (self included), clusters are
    * the connected components of the core-core ε-graph labeled by MIN
    * member id ([[Dedup.connectedComponents]] star contraction —
    * O(log² n) rounds, never diameter), border points attach to the
    * MINIMUM core-neighbor label (textbook DBSCAN gives the first
    * discoverer — scan-order nondeterminism we refuse), everything
    * else is noise.
    *
    * Scale (the MR-DBSCAN shape): candidate pairs come from an ε-GRID
    * blocking — each point anchors in its own cell, the probe side
    * replicates to the 3×3 cell neighborhood, and the equi-join on
    * cell keys + exact distance filter IS the ε-neighborhood (the grid
    * only prunes; results are bit-identical to the brute-force
    * quadratic join, which is exactly what the oracle runs). Pair
    * volume is bounded by local density, not n²; a pathologically
    * dense cell is the usual skew story (salt or AQE), and at extreme
    * density cap minPts-counting per cell — not needed here. Judged
    * `q_dbscan` (separated jittered clusters + isolated noise, every
    * coordinate id-arithmetic both engines reproduce bit-for-bit),
    * fully ORACLED against brute-force + recursive-CTE components;
    * core/border/noise roles, min-label attach, eps boundary and
    * grid≡brute equality pinned in VectorSpec. */
  def dbscan2d(points: DataFrame, idCol: String, xCol: String,
      yCol: String, eps: Double, minPts: Int): DataFrame = {
    require(eps > 0 && minPts >= 1, s"need eps > 0, minPts >= 1")
    val pts = graft.engine.Caches.persisted(
      points.select(col(idCol).cast("long").as("id"),
          col(xCol).cast("double").as("x"),
          col(yCol).cast("double").as("y"))
        .withColumn("cx", floor(col("x") / eps).cast("long"))
        .withColumn("cy", floor(col("y") / eps).cast("long")))
    val probes = pts
      .select(col("id").as("qid"), col("x").as("qx"), col("y").as("qy"),
        col("cx").as("bx"), col("cy").as("by"))
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("qid"), col("qx"), col("qy"),
        (col("bx") + col("dx")).as("pcx"), (col("by") + col("dy")).as("pcy"))
    // directed pairs within eps — each unordered pair appears once per
    // direction (the anchor's single cell meets exactly one probe cell)
    val pairs = graft.engine.Caches.persisted(
      pts.join(probes,
          col("cx") === col("pcx") && col("cy") === col("pcy") &&
            col("id") =!= col("qid"))
        .filter((col("x") - col("qx")) * (col("x") - col("qx")) +
          (col("y") - col("qy")) * (col("y") - col("qy")) <=
          lit(eps) * lit(eps))
        .select(col("id"), col("qid")))
    val flags = graft.engine.Caches.persisted(
      pts.join(pairs.groupBy("id").agg(count(lit(1)).as("__nb")),
          Seq("id"), "left")
        .select(col("id"),
          (coalesce(col("__nb"), lit(0L)) + 1 >= minPts).as("is_core")))
    val core = flags.filter(col("is_core"))
    val coreEdges = pairs
      .join(core.select(col("id")), "id")
      .join(core.select(col("id").as("qid")), "qid")
    val comp = graft.operators.Dedup
      .connectedComponents(coreEdges, "id", "qid")
      .withColumnRenamed("id", "__cid")
    // isolated cores (minPts met through border neighbors alone) are
    // their own single-member cluster
    val coreLbl = graft.engine.Caches.persisted(
      core.join(comp, core("id") === col("__cid"), "left")
        .select(core("id"), coalesce(col("component"), core("id"))
          .as("cluster")))
    val borderLbl = pairs
      .join(flags.filter(!col("is_core")).select(col("id")), "id")
      .join(coreLbl.select(col("id").as("qid"), col("cluster")), "qid")
      .groupBy("id").agg(min(col("cluster")).as("cluster"))
    pts.select(col("id"))
      .join(coreLbl.withColumn("is_core", lit(true))
        .unionByName(borderLbl.withColumn("is_core", lit(false))),
        Seq("id"), "left")
      .select(col("id"), col("cluster"),
        coalesce(col("is_core"), lit(false)).as("is_core"))
  }

  /** Silhouette score over integer 2-D points — the clustering-quality
    * readout for [[kmeansAssign]]/[[dbscan2d]] labelings (is each
    * point closer to its OWN cluster than to the nearest other?),
    * under the SQUARED-Euclidean metric so every distance is an exact
    * integer. The O(n²) pair sum collapses to per-cluster sufficient
    * statistics: `Σ_j∈C d²(i,j) = n_C(xᵢ²+yᵢ²) − 2xᵢSx − 2ySy + Sxx+Syy`
    * — so a(i) (own-mean, self excluded via the n−1 denominator; the
    * self term is zero) and b(i) (min other-cluster mean) come from
    * ONE broadcast K-row stats table, never a pair join. Means are
    * micro-floored, `s_milli = sign(b−a)·(|b−a|·1000 div max(a,b))`
    * (the q_assortativity signed-division rule); singleton clusters
    * score 0 by convention (sklearn's). Callers supply distinct
    * points (duplicates multiply output rows verbatim).
    *
    * Scale: one partial aggregate to K cluster rows, one broadcast
    * crossJoin, zero pair enumeration — linear at any corpus size;
    * overflow-safe while `n_C·d²·10⁶ < 2^63` (the q_gini DECIMAL rule
    * beyond). Judged `q_silhouette`, fully ORACLED; separated-vs-
    * merged ordering, singleton and single-cluster conventions and a
    * hand two-cluster value pinned in VectorSpec. */
  def silhouette2d(points: DataFrame, xCol: String, yCol: String,
      labelCol: String): DataFrame = {
    val pts = points.select(col(xCol).cast("long").as("x"),
      col(yCol).cast("long").as("y"), col(labelCol).cast("long").as("lbl"))
    val stats = broadcast(pts.groupBy(col("lbl").as("c_lbl"))
      .agg(count(lit(1)).as("c_n"), sum(col("x")).as("c_sx"),
        sum(col("y")).as("c_sy"),
        sum(expr("x * x + y * y")).as("c_ss")))
    val terms = pts.crossJoin(stats)
      .withColumn("ssum", expr(
        "c_n * (x * x + y * y) - 2 * x * c_sx - 2 * y * c_sy + c_ss"))
    val own = terms.filter(col("lbl") === col("c_lbl"))
      .select(col("lbl"), col("x"), col("y"),
        when(col("c_n") > 1, expr("ssum * 1000000 div (c_n - 1)"))
          .as("a_micro"))
    val other = terms.filter(col("lbl") =!= col("c_lbl"))
      .groupBy("lbl", "x", "y")
      .agg(min(expr("ssum * 1000000 div c_n")).as("b_micro"))
    own.join(other, Seq("lbl", "x", "y"), "left")
      .select(col("lbl"), col("x"), col("y"), col("a_micro"),
        col("b_micro"),
        when(col("a_micro").isNull || col("b_micro").isNull, lit(0L))
          .otherwise(expr("""cast(sign(b_micro - a_micro) as bigint)
            * (abs(b_micro - a_micro) * 1000
               div greatest(a_micro, b_micro, 1L))""")).as("s_milli"))
  }
}
