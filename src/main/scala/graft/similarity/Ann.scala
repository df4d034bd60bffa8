package graft.similarity

import graft.dedup.Dedup
import graft.functions.expressions.nearestCentroids
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor search over an embedding column.
 *
 * [[bruteForceTopK]] is the exact baseline: broadcast the (small)
 * probe set against the corpus — one scan, no shuffle of the corpus,
 * per-partition partial top-k via the window only after the narrow
 * cosine computation. At 100 TB the corpus side stays partitioned;
 * only probes move.
 *
 * [[lshTopK]] is the scale path: random-hyperplane signatures bucket
 * the corpus; probes only score candidates sharing a signature band
 * (pigeonhole multiprobe), cutting the scored set by orders of
 * magnitude at controlled recall. An IVF variant would swap the
 * signature for a nearest-centroid id — same plan shape.
 */
object Ann {

  /** Exact top-k by cosine for each probe row. Output:
   * (probe_id, rank, vec_id, cos). */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, k: Int): DataFrame = {
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("p_vec"))
    // spread: a few-file corpus must not score on a handful of cores
    val c = Dedup.spread(corpus).select(col(idCol).as("vec_id"), col(vecCol).as("c_vec"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    c.crossJoin(broadcast(p))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), Dedup.cosine(col("p_vec"), col("c_vec")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("probe_id", "rank", "vec_id", "cos")
  }

  /** LSH-bucketed approximate top-k: score only candidates sharing at
   * least one signature band with the probe. numPlanes/bandBits is the
   * recall-vs-cost knob (more, narrower bands → higher recall, larger
   * candidate sets). Same output shape as [[bruteForceTopK]]. */
  def lshTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int,
      numPlanes: Int = 32, bandBits: Int = 4): DataFrame = {
    // band join on ids only; vectors join back per deduped candidate
    def banded(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id),
        posexplode(Dedup.signatureBands(
          Dedup.hyperplaneSignature(col(vecCol), dim, numPlanes), numPlanes, bandBits)))
        .withColumnsRenamed(Map("pos" -> "band_idx", "col" -> "band_val"))
    val cand = banded(Dedup.spread(corpus), "vec_id")
      .join(broadcast(banded(probes, "probe_id")), Seq("band_idx", "band_val"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select("probe_id", "vec_id")
      .distinct()
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    cand
      .join(corpus.select(col(idCol).as("vec_id"), col(vecCol).as("c_vec")), Seq("vec_id"))
      .join(broadcast(probes.select(col(idCol).as("probe_id"), col(vecCol).as("p_vec"))), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"), Dedup.cosine(col("p_vec"), col("c_vec")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("probe_id", "rank", "vec_id", "cos")
  }

  /**
   * PCA-reduced approximate top-k (C86) — the dimensionality-reduction
   * serving path: corpus and probes project onto the top `reduceK`
   * principal components ([[Pca.fit]] — one exact-integer moment pass
   * + the codegen'd plan-embedded kernel; UNwhitened, so subspace dot
   * products approximate full-space dot products), a reduced-space
   * cosine ranks a `shortlist`-candidate set per probe (dim/reduceK
   * fewer FLOPs per comparison at the same O(n) scan — 4× here), and
   * exact full-space cosine re-ranks the shortlist. Shortlist carries
   * ids only; full vectors join back per candidate (the lshTopK
   * discipline). Same output shape as [[bruteForceTopK]].
   */
  def pcaTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int,
      reduceK: Int = 16, shortlist: Int = 32): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val model = Pca.fit(corpus, vecCol, dim, reduceK)
    def reduced(df: DataFrame, id: String): DataFrame =
      df.select(col(idCol).as(id), Pca.projectColumn(model, col(vecCol)).as(s"${id}_red"))
    val wRed = Window.partitionBy("probe_id").orderBy(col("red_cos").desc, col("vec_id"))
    val cand = reduced(Dedup.spread(corpus), "vec_id")
      .crossJoin(broadcast(reduced(probes, "probe_id")))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        Dedup.cosine(col("probe_id_red"), col("vec_id_red")).as("red_cos"))
      .withColumn("rrank", row_number().over(wRed).cast("long"))
      .filter(col("rrank") <= shortlist)
      .select("probe_id", "vec_id")
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    cand
      .join(corpus.select(col(idCol).as("vec_id"), col(vecCol).as("c_vec")), Seq("vec_id"))
      .join(broadcast(probes.select(col(idCol).as("probe_id"), col(vecCol).as("p_vec"))), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"), Dedup.cosine(col("p_vec"), col("c_vec")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("probe_id", "rank", "vec_id", "cos")
  }

  /**
   * IVF (inverted-file) approximate top-k. The coarse quantizer
   * samples `numCells` lowest-id corpus vectors as centroids and
   * optionally refines them with `kmeansIters` rounds of distributed
   * spherical k-means ([[trainCentroids]]). Corpus vectors index into
   * their nearest cell; each
   * probe scores only the cells on its `nProbe` multiprobe list. Cell
   * assignment is a single codegen'd expression; at 100 TB the index
   * side would additionally be written partitioned by cell so a query
   * touches only its probe-list partitions.
   */
  def ivfTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int,
      numCells: Int = 16, nProbe: Int = 4,
      kmeansIters: Int = 0): DataFrame = {
    val centroids = trainCentroids(corpus, idCol, vecCol, dim, numCells, kmeansIters)
    val c = Dedup.spread(corpus).select(col(idCol).as("vec_id"), col(vecCol).as("c_vec"),
      element_at(nearestCentroids(col(vecCol), centroids, dim, 1), 1).as("cell"))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("p_vec"),
      explode(nearestCentroids(col(vecCol), centroids, dim, nProbe)).as("cell"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    c.join(broadcast(p), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), Dedup.cosine(col("p_vec"), col("c_vec")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("probe_id", "rank", "vec_id", "cos")
  }

  /** The `k` lowest-min-id DISTINCT-VALUE corpus vectors — the
   * deterministic quantizer init seed. Grouping by VALUE (not id)
   * makes the init immune to mass duplication: a corpus where every
   * vector has 20 exact copies (the ScaleProbe shape, and what real
   * crawled embeddings look like before dedup) would otherwise seed
   * all k centroids with copies of the same few vectors, collapsing
   * the trained quantizer and with it recall (the r13 probe caught
   * exactly this). It also makes training replication-INVARIANT:
   * same init + uniformly-duplicated Lloyd means = bit-identical
   * quantizers at 1× and N×. The group-by shuffles only distinct
   * vectors after map-side combine — one extra aggregate against the
   * 3 Lloyd scans the build already pays. */
  private def distinctInitVectors(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int): Array[Array[Double]] =
    corpus.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
      .groupBy("__v").agg(min("__id").as("__mid"))
      .orderBy("__mid").limit(k).collect()
      .map(_.get(0).asInstanceOf[scala.collection.Seq[Any]].map {
        case f: java.lang.Float => f.toDouble
        case d: java.lang.Double => d.doubleValue()
      }.toArray)

  /**
   * Coarse-quantizer centroids: `numCells` lowest-id DISTINCT corpus
   * vectors ([[distinctInitVectors]] — duplication-proof init),
   * optionally refined by `iters` rounds of distributed spherical
   * k-means (Lloyd). Each round is one pass: codegen'd nearest-cell
   * assignment, then a (cell, position) partial-aggregated mean of the
   * L2-NORMALIZED vectors — spherical k-means averages directions, so
   * a large-norm vector must not dominate its cell's centroid. The
   * shuffle is numCells x dim rows regardless of corpus size, so
   * training cost is scan-bound at 100 TB. Zero vectors are excluded
   * (no direction); empty cells keep their previous centroid.
   */
  def trainCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, numCells: Int, iters: Int = 0): Array[Double] = {
    val init: Array[Double] =
      distinctInitVectors(corpus, idCol, vecCol, numCells).flatten
    var centroids = init
    val spreadCorpus = Dedup.spread(corpus)
    for (_ <- 1 to iters) {
      val sums = spreadCorpus
        .withColumn("__norm", graft.functions.expressions.vecNorm(col(vecCol)))
        .filter(col("__norm") > 0)
        .select(element_at(nearestCentroids(col(vecCol), centroids, dim, 1), 1).as("cell"),
          col("__norm"), posexplode(col(vecCol)))
        .groupBy("cell", "pos")
        .agg(sum(col("col").cast("double") / col("__norm")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = centroids.clone()
      sums.foreach { r =>
        val cell = r.getInt(0); val pos = r.getInt(1)
        next(cell * dim + pos) = r.getDouble(2) / r.getLong(3)
      }
      centroids = next
    }
    centroids
  }

  /**
   * Persist an IVF index: corpus rows written partitioned by their
   * cell id (`path/cell=N/...`) plus the trained centroids at
   * `path/_graft_centroids`. At query time [[ivfTopKIndexed]] collects
   * the probes' multiprobe cell list and reads ONLY those partitions —
   * static partition pruning, so a query touches nProbe x |probes|
   * directories of a 100 TB index, never the full corpus.
   */
  def buildIvfIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, path: String, numCells: Int = 16, kmeansIters: Int = 3): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = trainCentroids(corpus, idCol, vecCol, dim, numCells, kmeansIters)
    // Cluster rows by cell BEFORE the partitioned write (guide §6,
    // small files): without it every scan task writes a file into
    // every cell dir — tasks × cells tiny files whose listing/open
    // cost taxes every later pruned read, delete-path count, and
    // vacuum. A deterministic per-id salt keeps write parallelism at
    // shuffle-partition scale (files per cell grows with the cluster
    // knob, not with the scan's task count; guide §2.5 — never salt
    // with rand()). Row content is untouched.
    val perCell = math.max(1L,
      spark.sessionState.conf.numShufflePartitions.toLong / numCells)
    Dedup.spread(corpus)
      .withColumn("cell", element_at(nearestCentroids(col(vecCol), centroids, dim, 1), 1))
      .repartition(col("cell"), pmod(xxhash64(col(idCol)), lit(perCell)))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    centroids.toIndexedSeq.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("idx", "value").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_graft_centroids")
  }

  /**
   * Append new vectors to an existing [[buildIvfIndex]] index WITHOUT
   * retraining: cells come from the STORED centroids, so the append
   * is one narrow codegen'd assignment pass + a cell-partitioned
   * parquet append — the daily-increment shape of embedding-corpus
   * maintenance (the ANN analog of incremental dedup). The quantizer
   * is frozen by design: existing partitions stay valid and queries
   * are consistent across appends; centroid drift is an offline
   * rebuild decision, never an ingest-path one.
   */
  def appendToIvfIndex(path: String, newVecs: DataFrame, idCol: String,
      vecCol: String, dim: Int): Unit = {
    val spark = newVecs.sparkSession
    val centroids = spark.read.parquet(s"$path/_graft_centroids")
      .orderBy("idx").collect().map(_.getDouble(1))
    Dedup.spread(newVecs)
      .withColumn("cell", element_at(nearestCentroids(col(vecCol), centroids, dim, 1), 1))
      .repartition(col("cell")) // one file per touched cell per append (§6)
      .write.mode("append").partitionBy("cell").parquet(path)
  }

  /**
   * Product-quantization codebooks: the `dim`-vector splits into `m`
   * blocks of dim/m; each block gets its own `ks`-centroid L2
   * quantizer (plain Lloyd, NOT spherical — block magnitudes carry
   * into the full vector's norm and dot, see HashOps.pqEncode).
   * Init is deterministic (block j of the ks lowest-id DISTINCT
   * vectors — [[distinctInitVectors]], duplication-proof); each
   * refinement round is one scan: codegen'd encode, then a
   * (block, code, position) partial-aggregated mean — the shuffle is
   * m x ks x subdim rows regardless of corpus size, so training is
   * scan-bound at 100 TB exactly like [[trainCentroids]]. Empty
   * cells keep their previous centroid. Layout:
   * [(j*ks + c)*subdim + t].
   */
  def trainPqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int, ks: Int, iters: Int = 3): Array[Double] = {
    require(dim % m == 0, s"dim $dim must divide into m=$m blocks")
    val subdim = dim / m
    import graft.functions.expressions.pqEncode
    val init = new Array[Double](m * ks * subdim)
    distinctInitVectors(corpus, idCol, vecCol, ks).zipWithIndex.foreach {
      case (v, c) =>
        var i = 0
        while (i < math.min(v.length, dim)) {
          init((i / subdim * ks + c) * subdim + i % subdim) = v(i)
          i += 1
        }
      }
    var codebooks = init
    val spreadCorpus = Dedup.spread(corpus)
    for (_ <- 1 to iters) {
      val sums = spreadCorpus
        .withColumn("__codes", pqEncode(col(vecCol), codebooks, m, subdim))
        .select(col("__codes"), posexplode(col(vecCol)))
        .select((col("pos") / subdim).cast("int").as("j"),
          element_at(col("__codes"), (col("pos") / subdim).cast("int") + 1).as("code"),
          (col("pos") % subdim).as("t"),
          col("col").cast("double").as("v"))
        .groupBy("j", "code", "t")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = codebooks.clone()
      sums.foreach { r =>
        val j = r.getInt(0); val code = r.getInt(1); val t = r.getInt(2)
        if (j < m && t < subdim)
          next((j * ks + code) * subdim + t) = r.getDouble(3) / r.getLong(4)
      }
      codebooks = next
    }
    codebooks
  }

  /**
   * PQ-compressed approximate top-k (ADC scan + exact re-rank). The
   * corpus is encoded once to `m` small ints per vector — at dim 64 /
   * m 8 that is 8 bytes in place of 256, the 32x memory cut that
   * makes a 100 TB embedding corpus scannable from RAM — and scanning
   * scores each row with `m` table lookups against the probe's
   * precomputed ADC table (no per-pair float math at all). The
   * `rerank` shortlist then fetches true vectors (ids-only shuffle,
   * |probes| x rerank rows — never the corpus) for exact cosine
   * ordering, the standard IVFADC serving shape. Composes with the
   * IVF index (encode each cell's residents) when the scan itself
   * must prune; here the corpus side is the full code table.
   */
  def pqTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int,
      m: Int = 8, ks: Int = 16, iters: Int = 3, rerank: Int = 32): DataFrame = {
    import graft.functions.expressions.{pqAdcTable, pqEncode, pqTableScore}
    val subdim = dim / m
    val codebooks = trainPqCodebooks(corpus, idCol, vecCol, dim, m, ks, iters)
    val normSq = Array.tabulate(m * ks) { i =>
      var s = 0.0; val off = i * subdim
      var t = 0
      while (t < subdim) { val x = codebooks(off + t); s += x * x; t += 1 }
      s
    }
    val encoded = Dedup.spread(corpus).select(col(idCol).as("vec_id"),
      pqEncode(col(vecCol), codebooks, m, subdim).as("codes"))
    val pt = probes.select(col(idCol).as("probe_id"),
      pqAdcTable(col(vecCol), codebooks, m, subdim).as("tbl"))
    val wAdc = Window.partitionBy("probe_id").orderBy(col("adc").desc, col("vec_id"))
    val shortlist = encoded.crossJoin(broadcast(pt))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        pqTableScore(col("codes"), col("tbl"), normSq, ks).as("adc"))
      .withColumn("__r", row_number().over(wAdc))
      .filter(col("__r") <= math.max(rerank, k))
      .select("probe_id", "vec_id")
    exactRerank(shortlist, corpus, probes, idCol, vecCol, k)
  }

  /** Exact-cosine re-rank of an approximate (probe_id, vec_id)
   * shortlist: fetch true vectors for shortlist ids only (an ids-only
   * shuffle of |probes| x rerank rows — never the corpus) and emit
   * the standard (probe_id, rank, vec_id, cos) top-k. */
  private def exactRerank(shortlist: DataFrame, corpus: DataFrame,
      probes: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    shortlist
      .join(corpus.select(col(idCol).as("vec_id"), col(vecCol).as("c_vec")), Seq("vec_id"))
      .join(broadcast(probes.select(col(idCol).as("probe_id"), col(vecCol).as("p_vec"))),
        Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"), Dedup.cosine(col("p_vec"), col("c_vec")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("probe_id", "rank", "vec_id", "cos")
  }

  /** Train the coarse quantizer and the PQ codebooks CONCURRENTLY
   * (r19, guide §2.6 — overlap independent jobs): the two Lloyd
   * chains share no state, and each round is a small scan+aggregate
   * whose tail leaves most executors idle, so running the chains
   * from two driver threads halves the training wall-clock without
   * changing either chain's computation (each iteration's plan,
   * partitioning, and reduction order are exactly as sequential). */
  private def trainBoth(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, numCells: Int, kmeansIters: Int,
      m: Int, ks: Int, pqIters: Int): (Array[Double], Array[Double]) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    // one DEDICATED daemon thread for the side chain (r20 — not
    // ExecutionContext.global: a blocking Spark action on the global
    // pool can starve its other users in a busier driver)
    val pool = java.util.concurrent.Executors.newSingleThreadExecutor(
      (r: Runnable) => { val t = new Thread(r, "graft-ann-train"); t.setDaemon(true); t })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val fCentroids = Future(
        trainCentroids(corpus, idCol, vecCol, dim, numCells, kmeansIters))
      val codebooks = trainPqCodebooks(corpus, idCol, vecCol, dim, m, ks, pqIters)
      (Await.result(fCentroids, Duration.Inf), codebooks)
    } finally pool.shutdown()
  }

  /**
   * IVFADC: the production composition of [[ivfTopK]] and [[pqTopK]] —
   * the coarse quantizer bounds WHAT is scanned (each probe touches
   * only its nProbe cells' rows, an equi join on the cell id) and the
   * product quantizer compresses what those rows COST (m byte-codes
   * scored by ADC table lookups instead of raw-float cosine), with the
   * exact re-rank restoring true-cosine order over the shortlist. At
   * 100 TB this is the shape that serves: cells prune the scan by
   * numCells/nProbe, codes cut the scanned bytes 32x, and neither the
   * corpus vectors nor the codes ever shuffle — only shortlist ids do.
   */
  def ivfPqTopK(corpus: DataFrame, probes: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int,
      numCells: Int = 16, nProbe: Int = 4, kmeansIters: Int = 3,
      m: Int = 8, ks: Int = 16, pqIters: Int = 3, rerank: Int = 32): DataFrame = {
    import graft.functions.expressions.{pqAdcTable, pqEncode, pqTableScore}
    val subdim = dim / m
    val (centroids, codebooks) = trainBoth(
      corpus, idCol, vecCol, dim, numCells, kmeansIters, m, ks, pqIters)
    val normSq = Array.tabulate(m * ks) { i =>
      var s = 0.0; val off = i * subdim
      var t = 0
      while (t < subdim) { val x = codebooks(off + t); s += x * x; t += 1 }
      s
    }
    val encoded = Dedup.spread(corpus).select(col(idCol).as("vec_id"),
      element_at(nearestCentroids(col(vecCol), centroids, dim, 1), 1).as("cell"),
      pqEncode(col(vecCol), codebooks, m, subdim).as("codes"))
    val pt = probes.select(col(idCol).as("probe_id"),
      explode(nearestCentroids(col(vecCol), centroids, dim, nProbe)).as("cell"),
      pqAdcTable(col(vecCol), codebooks, m, subdim).as("tbl"))
    val wAdc = Window.partitionBy("probe_id").orderBy(col("adc").desc, col("vec_id"))
    val shortlist = encoded.join(broadcast(pt), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        pqTableScore(col("codes"), col("tbl"), normSq, ks).as("adc"))
      .withColumn("__r", row_number().over(wAdc))
      .filter(col("__r") <= math.max(rerank, k))
      .select("probe_id", "vec_id")
    exactRerank(shortlist, corpus, probes, idCol, vecCol, k)
  }

  /**
   * Persist an IVFADC index: the build-once half of [[ivfPqTopK]].
   * Corpus rows are written partitioned by coarse cell with their PQ
   * codes ALONGSIDE the raw vectors — parquet is columnar, so the ADC
   * scan reads only (id, codes, cell) and never deserializes the
   * vector column, while the exact re-rank fetches true vectors from
   * the same pruned cell partitions. Codebooks persist as
   * (j, code, t, value) rows, making the index self-describing (m, ks,
   * subdim recover from the key space — a flat array would lose m,
   * since m·ks·subdim = ks·dim for every m). `_graft_centroids` is
   * written LAST so its _SUCCESS marks a complete build, and the
   * stored-column layout is a superset of [[buildIvfIndex]]'s — a
   * plain [[ivfTopKIndexed]] query runs unchanged against an IVFADC
   * index.
   */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
      dim: Int, path: String, numCells: Int = 16, kmeansIters: Int = 3,
      m: Int = 8, ks: Int = 16, pqIters: Int = 3): Unit = {
    import graft.functions.expressions.pqEncode
    val spark = corpus.sparkSession
    import spark.implicits._
    val subdim = dim / m
    val (centroids, codebooks) = trainBoth(
      corpus, idCol, vecCol, dim, numCells, kmeansIters, m, ks, pqIters)
    // one salted shuffle by cell before the write — see buildIvfIndex
    val perCell = math.max(1L,
      spark.sessionState.conf.numShufflePartitions.toLong / numCells)
    Dedup.spread(corpus)
      .withColumn("cell", element_at(nearestCentroids(col(vecCol), centroids, dim, 1), 1))
      .withColumn("_graft_codes", pqEncode(col(vecCol), codebooks, m, subdim))
      .repartition(col("cell"), pmod(xxhash64(col(idCol)), lit(perCell)))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
    codebooks.toIndexedSeq.zipWithIndex.map { case (v, i) =>
      val j = i / (ks * subdim); val rem = i % (ks * subdim)
      (j, rem / subdim, rem % subdim, v)
    }.toDF("j", "code", "t", "value").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_graft_codebooks")
    centroids.toIndexedSeq.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("idx", "value").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/_graft_centroids")
  }

  /** Frozen quantizers read back from a [[buildIvfPqIndex]] index:
   * (centroids, codebooks, m, ks, subdim). Bounded driver collects —
   * numCells·dim + m·ks·subdim doubles regardless of corpus size. */
  private def readIvfPqQuantizers(spark: org.apache.spark.sql.SparkSession,
      path: String): (Array[Double], Array[Double], Int, Int, Int) = {
    val centroids = spark.read.parquet(s"$path/_graft_centroids")
      .orderBy("idx").collect().map(_.getDouble(1))
    val cbRows = spark.read.parquet(s"$path/_graft_codebooks")
      .select("j", "code", "t", "value").collect()
    val m = cbRows.iterator.map(_.getInt(0)).max + 1
    val ks = cbRows.iterator.map(_.getInt(1)).max + 1
    val subdim = cbRows.iterator.map(_.getInt(2)).max + 1
    val codebooks = new Array[Double](m * ks * subdim)
    cbRows.foreach { r =>
      codebooks((r.getInt(0) * ks + r.getInt(1)) * subdim + r.getInt(2)) = r.getDouble(3)
    }
    (centroids, codebooks, m, ks, subdim)
  }

  /**
   * Append new vectors to a [[buildIvfPqIndex]] index through the
   * FROZEN coarse quantizer AND frozen PQ codebooks — one narrow
   * codegen'd assign+encode pass, then a cell-partitioned parquet
   * append. Exact parity with [[appendToIvfIndex]]: no retrain means
   * existing partitions and codes stay valid and queries stay
   * consistent across appends; codebook drift is an offline rebuild
   * decision, never an ingest-path one.
   */
  def appendToIvfPqIndex(path: String, newVecs: DataFrame, idCol: String,
      vecCol: String, dim: Int): Unit = {
    import graft.functions.expressions.pqEncode
    val spark = newVecs.sparkSession
    val (centroids, codebooks, m, _, subdim) = readIvfPqQuantizers(spark, path)
    require(m * subdim == dim, s"index at $path encodes dim ${m * subdim}, got $dim")
    Dedup.spread(newVecs)
      .withColumn("cell", element_at(nearestCentroids(col(vecCol), centroids, dim, 1), 1))
      .withColumn("_graft_codes", pqEncode(col(vecCol), codebooks, m, subdim))
      .repartition(col("cell")) // one file per touched cell per append (§6)
      .write.mode("append").partitionBy("cell").parquet(path)
  }

  /**
   * Small-file compaction for a cell-partitioned index (IVF or
   * IVFADC): every [[appendToIvfIndex]]/[[appendToIvfPqIndex]] call
   * accretes its own small files inside each touched `cell=N`
   * partition, and after enough daily increments scan planning +
   * open() overhead dominates the pruned-cell reads. Composes
   * [[graft.sinks.TableSink.compact]] per cell directory — the
   * quantizer sidecars (`_graft_*`) are untouched, already-compact
   * cells no-op, and each cell rewrites independently with compact's
   * crash-safe rename swap (a maintenance cycle can batch cells or
   * resume after interruption; queries and appends stay valid because
   * neither the layout nor any row changes). Returns the number of
   * cell partitions examined.
   */
  /** Tombstones of a [[buildIvfIndex]]/[[buildIvfPqIndex]] index, as
   * a one-column (`id`) frame — empty when none. The `_graft_`-
   * prefixed sidecar is invisible to the index's own partition
   * discovery, exactly like `_graft_centroids`. */
  private def ivfTombstones(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(s"$path/_graft_tombstones")
    // read under a reserved name so the anti joins stay unambiguous
    // even when the index's own id column is literally named "id"
    if (p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
      spark.read.parquet(p.toString).select(col("id").as("__tomb_id"))
    else Seq.empty[Long].toDF("__tomb_id")
  }

  /** Drop tombstoned rows from an index scan — the search-time half
   * of the delete path. Tombstone sets are erasure-request-sized
   * (human-scale), so the anti join broadcasts. The tombstone-free
   * fast path is ONE existence probe — no job, no plan change — so
   * an index that never saw a delete pays nothing at read time. */
  private def dropTombstoned(rows: DataFrame, path: String,
      idCol: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_graft_tombstones")
    val spark = rows.sparkSession
    if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)) rows
    else rows.join(broadcast(ivfTombstones(spark, path)),
      col(idCol) === col("__tomb_id"), "left_anti")
  }

  /**
   * Delete vectors from a persisted IVF(-PQ) index (C7h, r18) — the
   * erasure half of index maintenance: an A30 [[graft.sinks.Snapshot
   * .eraseKeys]] of a document whose embedding is indexed would
   * otherwise leave the subject RETRIEVABLE by similarity search.
   * Deletes are TOMBSTONES: the ids append to a `_graft_tombstones`
   * sidecar (one tiny write — the ingest-path cost a delete should
   * have) and every indexed read ([[ivfTopKIndexed]],
   * [[ivfPqTopKIndexed]]) masks them with a broadcast anti join, so
   * a delete is effective the moment the sidecar lands, with zero
   * data rewritten. Physical reclamation is [[vacuumIvfIndex]]'s
   * job, triggered here automatically once tombstones exceed
   * `compactThreshold` of the index's live rows (footer-only counts
   * — no data read). Returns true when the call vacuumed.
   *
   * Semantics: tombstones mask BY ID — an id deleted and later
   * re-appended stays masked until a vacuum clears the sidecar, so
   * delete-then-reinsert workflows must vacuum between (re-ingesting
   * an erased subject is itself the anti-pattern erasure exists to
   * prevent). Ids absent from the index tombstone harmlessly.
   */
  /** Exact row count of the parquet files under `dir` (one directory
   * level, or `dir/cell=N/...` when `cells` is set) read from file
   * FOOTERS driver-side — no Spark job. Equals `spark.read.parquet`
   * + `count()` (parquet footers carry exact row counts), at the cost
   * of a listing instead of a full job: the r19 delete-path
   * optimization (guide §1.2 — the threshold check needs two scalars,
   * not two cluster passes). */
  private def footerRowCount(spark: org.apache.spark.sql.SparkSession,
      dir: String, cells: Boolean): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(dir)
    val f = root.getFileSystem(conf)
    if (!f.exists(root)) return 0L
    val dataDirs =
      if (!cells) Array(root)
      else f.listStatus(root).filter(s =>
        s.isDirectory && s.getPath.getName.startsWith("cell=")).map(_.getPath)
    dataDirs.iterator.flatMap(d => f.listStatus(d).iterator).collect {
      case st if st.isFile && st.getPath.getName.endsWith(".parquet") =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
        try r.getRecordCount finally r.close()
    }.sum
  }

  def deleteFromIvfIndex(path: String, ids: DataFrame, idCol: String,
      compactThreshold: Double = 0.25): Boolean = {
    val spark = ids.sparkSession
    recoverIvfIndex(spark, path): Unit
    ids.select(col(idCol).cast("long").as("id")).distinct()
      .coalesce(1) // erasure requests are human-sized: one sidecar file
      .write.mode(SaveMode.Append).parquet(s"$path/_graft_tombstones")
    // footer-only counts (the doc's contract, now literally true):
    // the threshold check runs zero Spark jobs
    val nTomb = footerRowCount(spark, s"$path/_graft_tombstones", cells = false)
    val nLive = footerRowCount(spark, path, cells = true)
    if (nLive > 0 && nTomb.toDouble > compactThreshold * nLive) {
      vacuumIvfIndex(spark, path, idCol); true
    } else false
  }

  /** Repair interrupted-vacuum residue (r19, ADVICE r18): a crash in
   * [[vacuumIvfIndex]]'s per-cell swap leaves `cell=N` missing — and
   * partition discovery would silently SKIP the missing cell while a
   * rerun's sidecar drop made the loss permanent. Each cell with
   * `.vacuum_tmp_N`/`.vacuum_bak_N` residue is recovered by the
   * [[graft.sinks.Commit]] residue rule: a missing cell rolls forward
   * to the scrubbed tmp, or back to the unscrubbed bak (the
   * still-present tombstone sidecar keeps masking, so serving it is
   * correct). Returns the number of cells restored. Idempotent;
   * called on vacuum/delete entry, and the indexed read paths refuse
   * to serve an index with residue ([[requireNoVacuumResidue]])
   * rather than silently skip a cell. */
  def recoverIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a crashed single-job staging write (r19 vacuum) leaves cells
    // untouched and tombstones masking — plain residue, swept here
    f.delete(new org.apache.hadoop.fs.Path(s"$path/.vacuum_stage"), true): Unit
    val names = f.listStatus(root).map(_.getPath.getName)
    val cells = names.collect {
      case n if n.startsWith(".vacuum_tmp_") => n.stripPrefix(".vacuum_tmp_")
      case n if n.startsWith(".vacuum_bak_") => n.stripPrefix(".vacuum_bak_")
    }.distinct.sorted
    import graft.sinks.Commit.Outcome.{RolledBack, RolledForward}
    cells.count { c =>
      val (cell, tmp, bak) = vacuumTriple(path, c)
      Seq(RolledForward, RolledBack).contains(graft.sinks.Commit.recover(f, cell, tmp, bak))
    }
  }

  /** A cell and its fixed [[graft.sinks.Commit]] residue pair. */
  private def vacuumTriple(path: String, cell: String) = (
    new org.apache.hadoop.fs.Path(s"$path/cell=$cell"),
    new org.apache.hadoop.fs.Path(s"$path/.vacuum_tmp_$cell"),
    new org.apache.hadoop.fs.Path(s"$path/.vacuum_bak_$cell"))

  /** Refuse to serve an index whose last vacuum crashed mid-swap: a
   * missing `cell=N` would otherwise be silently absent from
   * partition discovery — wrong answers, no error. One listing. */
  private def requireNoVacuumResidue(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val f = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val residue = f.listStatus(root).map(_.getPath.getName)
      .filter(n => n.startsWith(".vacuum_tmp_") || n.startsWith(".vacuum_bak_"))
    require(residue.isEmpty,
      s"ivf index at $path has interrupted-vacuum residue " +
        s"(${residue.sorted.mkString(", ")}): run Ann.recoverIvfIndex " +
        "(or any vacuum/delete, which recover on entry) before serving")
  }

  /**
   * Physically reclaim tombstoned rows: rewrite ONLY the cells that
   * hold a doomed id (write-complete-tmp → swap, the eraseKeys
   * discipline — the same two-rename window applies and a reader in
   * it fails loudly rather than serving half a cell), then drop the
   * tombstone sidecar LAST — a crash anywhere before that leaves
   * tombstones still masking, so the search contract never weakens
   * mid-vacuum and a rerun completes the job. Entry first repairs any
   * interrupted predecessor ([[recoverIvfIndex]] — restoring the
   * missing cell BEFORE the rewrite, so the rerun scrubs it instead
   * of permanently losing its live rows). Returns the number of
   * cells rewritten; a tombstone-less index is a no-op.
   */
  def vacuumIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      idCol: String): Int = {
    recoverIvfIndex(spark, path): Unit
    // footer-only emptiness probe — no Spark job on the no-op path
    if (footerRowCount(spark, s"$path/_graft_tombstones", cells = false) == 0L)
      return 0
    val tomb = ivfTombstones(spark, path)
    val f = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val doomedCells = spark.read.parquet(path)
      .join(broadcast(tomb), col(idCol) === col("__tomb_id"), "left_semi")
      .select("cell").distinct().collect().map(_.getInt(0)).sorted
    // r19: scrub every doomed cell in ONE Spark job staged under
    // `.vacuum_stage` (guide §1.2 — the per-cell loop paid one full
    // read+write job per cell; a vacuum that dooms k cells was k
    // sequential jobs of mostly fixed overhead). The staging dir is
    // residue-swept on entry ([[recoverIvfIndex]]); each cell's fully
    // written staging partition moves to its `.vacuum_tmp_<c>` and
    // swaps in through graft.sinks.Commit, and the sidecar drops LAST.
    val stage = new org.apache.hadoop.fs.Path(s"$path/.vacuum_stage")
    f.delete(stage, true): Unit
    if (doomedCells.nonEmpty) {
      spark.read.parquet(path)
        .filter(col("cell").isin(doomedCells.toIndexedSeq: _*))
        .join(broadcast(tomb), col(idCol) === col("__tomb_id"), "left_anti")
        .repartition(col("cell")) // one file per rewritten cell (§6)
        .write.partitionBy("cell").parquet(stage.toString)
    }
    doomedCells.foreach { cell =>
      val (cellPath, tmp, bak) = vacuumTriple(path, cell.toString)
      val staged = new org.apache.hadoop.fs.Path(s"$path/.vacuum_stage/cell=$cell")
      if (f.exists(staged)) graft.sinks.Commit.move(f, staged, tmp)
      else // every row of the cell was tombstoned: scrubbed cell is empty
        require(f.mkdirs(tmp), s"ivf vacuum: failed to stage empty cell=$cell")
      graft.sinks.Commit.replace(f, cellPath, tmp, bak)
    }
    f.delete(stage, true): Unit
    require(f.delete(new org.apache.hadoop.fs.Path(s"$path/_graft_tombstones"),
      true), s"ivf vacuum: failed to drop the tombstone sidecar under $path")
    doomedCells.length
  }

  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): Int = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cells = fs.listStatus(root).filter(e =>
      e.isDirectory && e.getPath.getName.startsWith("cell="))
    cells.foreach(c =>
      graft.sinks.TableSink.compact(spark, c.getPath.toString, targetFileBytes))
    cells.length
  }

  /** Collect the probe set ONCE and compute its multiprobe cell list
   * DRIVER-SIDE with the same kernel the plan used (r20, VERDICT r19
   * #6): probe sets are human-sized by contract (they already
   * broadcast), so the per-search cell-listing Spark job disappears —
   * cell selection becomes a local computation feeding the same
   * static partition pruning — and the probe side becomes a LOCAL
   * relation, so the broadcast build and the exact rerank stop
   * re-executing the caller's probe plan once per consumption.
   * Identical results: same kernel, same centroids, same values —
   * only where the probe rows are read from changes. NULL-vector
   * probes drop from the cell list exactly as the old
   * explode(nearest_centroids(NULL)) did.
   *
   * Returns (probes as a local relation, exploded (probe row, cell)
   * local relation, distinct sorted cell list). */
  private def collectProbes(probes: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Double], dim: Int, nProbe: Int)
      : (DataFrame, DataFrame, Array[Int]) = {
    import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, StructField, StructType}
    val spark = probes.sparkSession
    val base = probes.select(col(idCol), col(vecCol))
    val schema = base.schema
    val isFloat = schema(vecCol).dataType
      .asInstanceOf[ArrayType].elementType == FloatType
    val rows = base.collect()
    val withCells = rows.filter(r => !r.isNullAt(1)).map { r =>
      val cells = graft.functions.HashOps.nearestCentroids(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(
          r.getSeq[Any](1).toArray),
        centroids, dim, nProbe, isFloat)
      (r, cells)
    }
    val localProbes = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    val cellSchema = StructType(schema.fields :+
      StructField("cell", IntegerType, nullable = false))
    val probeCells = spark.createDataFrame(
      java.util.Arrays.asList(withCells.flatMap { case (r, cs) =>
        cs.map(c => Row(r.get(0), r.get(1), c)) }: _*), cellSchema)
    (localProbes, probeCells, withCells.flatMap(_._2).distinct.sorted)
  }

  /**
   * Query a [[buildIvfPqIndex]] index: the query-many half of the
   * IVFADC serving shape. Reads the stored quantizers (no training in
   * the query path — the structural gap [[ivfPqTopK]] documents), lists
   * the probes' multiprobe cells driver-side for STATIC partition
   * pruning, ADC-scores only (vec_id, codes) from those cells — the
   * raw-vector column is never read during the scan — and exact-reranks
   * the ids-only shortlist against true vectors fetched from the same
   * pruned cells. Same output shape as [[bruteForceTopK]].
   */
  def ivfPqTopKIndexed(path: String, probes: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int,
      nProbe: Int = 4, rerank: Int = 32): DataFrame = {
    import graft.functions.expressions.{pqAdcTable, pqTableScore}
    val spark = probes.sparkSession
    requireNoVacuumResidue(spark, path)
    val (centroids, codebooks, m, ks, subdim) = readIvfPqQuantizers(spark, path)
    require(m * subdim == dim, s"index at $path encodes dim ${m * subdim}, got $dim")
    val normSq = Array.tabulate(m * ks) { i =>
      var s = 0.0; val off = i * subdim
      var t = 0
      while (t < subdim) { val x = codebooks(off + t); s += x * x; t += 1 }
      s
    }
    // static pruning: probes collect once, cells compute driver-side
    // (r20 — see collectProbes; was a separate cell-listing job plus a
    // probe-plan re-execution per consumption)
    val (localProbes, probeCells, cells) =
      collectProbes(probes, idCol, vecCol, centroids, dim, nProbe)
    val p = probeCells.select(col(idCol).as("probe_id"), col("cell"),
      pqAdcTable(col(vecCol), codebooks, m, subdim).as("tbl"))
    val codes = dropTombstoned(spark.read.parquet(path)
      .filter(col("cell").isin(cells.toIndexedSeq: _*)), path, idCol)
      .select(col(idCol).as("vec_id"), col("_graft_codes").as("codes"), col("cell"))
    val wAdc = Window.partitionBy("probe_id").orderBy(col("adc").desc, col("vec_id"))
    val shortlist = codes.join(broadcast(p), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        pqTableScore(col("codes"), col("tbl"), normSq, ks).as("adc"))
      .withColumn("__r", row_number().over(wAdc))
      .filter(col("__r") <= math.max(rerank, k))
      .select("probe_id", "vec_id")
    val cellVecs = spark.read.parquet(path)
      .filter(col("cell").isin(cells.toIndexedSeq: _*))
      .select(col(idCol), col(vecCol))
    exactRerank(shortlist, cellVecs, localProbes, idCol, vecCol, k)
  }

  /** Query a [[buildIvfIndex]] index. Same output shape as
   * [[bruteForceTopK]]; reads only the probes' multiprobe cells. */
  def ivfTopKIndexed(path: String, probes: DataFrame, idCol: String,
      vecCol: String, dim: Int, k: Int, nProbe: Int = 4): DataFrame = {
    val spark = probes.sparkSession
    requireNoVacuumResidue(spark, path)
    val centroids = spark.read.parquet(s"$path/_graft_centroids")
      .orderBy("idx").collect().map(_.getDouble(1))
    // static pruning: probes collect once, cells compute driver-side
    // (r20 — see collectProbes; was a separate cell-listing job plus a
    // probe-plan re-execution inside the broadcast build)
    val (_, probeCells, cells) =
      collectProbes(probes, idCol, vecCol, centroids, dim, nProbe)
    val p = probeCells.select(col(idCol).as("probe_id"),
      col(vecCol).as("p_vec"), col("cell"))
    val c = dropTombstoned(spark.read.parquet(path)
      .filter(col("cell").isin(cells.toIndexedSeq: _*)), path, idCol)
      .select(col(idCol).as("vec_id"), col(vecCol).as("c_vec"), col("cell"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    c.join(broadcast(p), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), Dedup.cosine(col("p_vec"), col("c_vec")).as("cos"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("probe_id", "rank", "vec_id", "cos")
  }

  /** Exploded integer-micros view of an embedding table:
   * (id, dim, micro) with micro = round(x · 10⁶). Exact distances in
   * 64-bit integer space — float dot-product reduction order is not
   * replayable evidence (the C71/C74 discipline). */
  private def microDims(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol).as("id"), posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col("id"), col("dim").cast("long").as("dim"),
        round(col("x") * 1000000d, 0).cast("long").as("micro"))

  /** MMR (maximal-marginal-relevance) diversified re-rank — the
   * redundancy-aware selection a RAG context window needs: the plain
   * top-k of a clustered corpus returns k near-copies; MMR greedily
   * picks the candidate balancing closeness to the QUERY against
   * distance from what is ALREADY SELECTED. λ is fixed at 1/2 so the
   * objective doubles into pure integers: pick argmax of
   * (min_{j∈S} d²(i,j)) − d²(q,i), ties to the smaller id; the first
   * pick is the plain nearest neighbor (S empty → separation term
   * dropped on both engines).
   *
   * Scale shape: the corpus-sized work is candidate generation (the
   * `poolK` exact scorer here; the C7 IVF path at index scale) and
   * the poolK² pairwise-distance self-join — both distributed. The
   * greedy loop itself runs driver-side over the collected poolK²
   * integer matrix: selection state is quadratic in a user-chosen
   * constant (the quantizer-state precedent), NEVER corpus-sized,
   * and the loop is inherently sequential (pick t depends on picks
   * 1..t−1) — distributing it would serialize anyway.
   *
   * Output: (sel_rank, vec_id, dist_q, gain) — gain is the doubled
   * MMR objective at selection time (separation − relevance), NULL
   * for the first pick where no separation term exists. */
  def mmrRerank(corpus: DataFrame, probe: DataFrame, idCol: String,
      vecCol: String, poolK: Int, selectK: Int): DataFrame = {
    require(selectK >= 1 && poolK >= selectK, "mmrRerank: need poolK >= selectK >= 1")
    val m = microDims(Dedup.spread(corpus), idCol, vecCol)
    val p = microDims(probe, idCol, vecCol)
      .select(col("id").as("pid"), col("dim"), col("micro").as("pm"))
    // exact top-poolK candidates by squared distance to the probe
    val dq = m.join(broadcast(p), Seq("dim"))
      .filter(col("id") =!= col("pid"))
      .groupBy("id")
      .agg(sum((col("micro") - col("pm")) * (col("micro") - col("pm"))).as("dq"))
    // TakeOrdered (per-partition heads + poolK-row driver merge) —
    // never a global single-partition rank over the corpus-sized dq
    val pool = dq.orderBy(col("dq"), col("id")).limit(poolK).select("id")
    mmrSelectFrom(corpus, probe, pool, idCol, vecCol, selectK)
  }

  /** MMR selection over a CALLER-SUPPLIED candidate pool (the hybrid
   * retrieval shape: an RRF-fused or index-generated shortlist feeds
   * the diversifier). Same objective, output, and scale shape as
   * [[mmrRerank]]; the pool relation must be bounded (it is collected
   * as the greedy loop's state). */
  def mmrSelectFrom(corpus: DataFrame, probe: DataFrame, poolIds: DataFrame,
      idCol: String, vecCol: String, selectK: Int): DataFrame = {
    require(selectK >= 1, "mmrSelectFrom: need selectK >= 1")
    val spark = corpus.sparkSession
    import spark.implicits._
    val m = microDims(Dedup.spread(corpus), idCol, vecCol)
    val p = microDims(probe, idCol, vecCol)
      .select(col("id").as("pid"), col("dim"), col("micro").as("pm"))
    // r19 (guide §1.2): collect the BOUNDED pool ids once up front —
    // the pool relation is the greedy loop's state by contract, so
    // this collect was always implied. Filtering the corpus by the
    // collected id list (instead of joining back through the pool
    // SUBPLAN) stops the pairwise-distance query from re-executing
    // the candidate generator a second time; with a caller-fused
    // shortlist (hybrid retrieval: BM25 + semantic + RRF) that
    // subplan was the most expensive part of the query.
    // NULL pool ids drop BEFORE the collect (r20, ADVICE r19):
    // Row.getLong renders NULL as 0L, which would silently admit
    // corpus id 0 where the pre-r19 inner join dropped the NULL
    val idList = poolIds
      .select(col(poolIds.columns.head).cast("long").as("id"))
      .filter(col("id").isNotNull)
      .collect().map(_.getLong(0)).toIndexedSeq
    val pool = m.filter(col("id").isin(idList: _*))
      .join(broadcast(p), Seq("dim"))
      .filter(col("id") =!= col("pid"))
      .groupBy("id")
      .agg(sum((col("micro") - col("pm")) * (col("micro") - col("pm"))).as("dq"))
    // pairwise distances AMONG the pool: poolK²-bounded self-join on dim
    val pm = m.filter(col("id").isin(idList: _*))
    val pairs = pm.join(
        broadcast(pm.select(col("id").as("id2"), col("dim"), col("micro").as("m2"))),
        Seq("dim"))
      .filter(col("id") < col("id2"))
      .groupBy("id", "id2")
      .agg(sum((col("micro") - col("m2")) * (col("micro") - col("m2"))).as("d"))
    val cand = pool.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    require(cand.size >= selectK,
      s"mmrSelectFrom: pool has ${cand.size} scoreable candidates < selectK=$selectK")
    val sep = pairs.collect().map { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      Set((a, b) -> r.getLong(2), (b, a) -> r.getLong(2))
    }.flatten.toMap
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Option[Long])]
    val rest = scala.collection.mutable.SortedSet.empty[Long] ++ cand.keys
    while (picked.size < selectK) {
      val choice =
        if (picked.isEmpty) rest.minBy(i => (cand(i), i))
        else rest.minBy { i =>
          val minSep = picked.map(s => sep(i -> s._1)).min
          (-(minSep - cand(i)), i) // maximize separation − relevance
        }
      val gain = if (picked.isEmpty) None
        else Some(picked.map(s => sep(choice -> s._1)).min - cand(choice))
      picked += ((choice, cand(choice), gain))
      rest -= choice
    }
    picked.zipWithIndex.map { case ((id, d, g), i) =>
      ((i + 1).toLong, id, d, g)
    }.toSeq.toDF("sel_rank", "vec_id", "dist_q", "gain")
  }
}
