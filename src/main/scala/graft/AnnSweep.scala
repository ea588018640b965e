package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.pipeline.Similarity

/** IVF-PQ recall/latency sweep — the quantitative backing for the
  * "codebooks are reusable model artifacts; 100 TB of embeddings is
  * probe-able" claim (BASELINE.md publishes the tables).
  *
  * Two corpora, because recall on ANN is a property of the DATA as much
  * as the index:
  *
  *  1. `uniform` — the driver's embeddings at the ×100 mutated replica
  *     dir (200k vectors). These are uniform random 64-dim vectors
  *     (measured: within-label cosine ≈ 0; a query's true top-10 sit at
  *     cosine 0.3–0.4, bare order statistics of 200k random cosines).
  *     Uniform random data has no intrinsic structure for ANY inverted
  *     index to exploit — relative contrast → 1, the classic hostility
  *     result — so recall here is the honest floor, not a defect.
  *     (The plain ×100 replicas are the opposite degenerate case: every
  *     query has 99 identical copies co-located in its own coarse cell,
  *     recall ≡ 1.0 at every setting. Measured, then discarded.)
  *  2. `clustered` — the same base vectors with 100 deterministic
  *     perturbed points planted around each (within-cluster cosine
  *     ≈ 0.8, the regime real embedding corpora occupy). Same 200k
  *     count, same dim; here the nprobe × refine knee is visible and
  *     the index earns its keep.
  *
  * Methodology: train IVF (64 cells) + PQ (m=16, ksub=32) once per
  * corpus — the write-time cost — then BUILD AND PERSIST the PQ-code
  * index frame (parquet, as a deployment stores it; probes re-read it
  * rather than re-encoding the corpus, which is what `ivfPqProbe`
  * exists for), warm once, and time each grid cell end-to-end (plan
  * build + index scan + probe join + native pq_adc fold + exact
  * re-rank). recall@10 is scored against the in-repo exact brute force.
  * Single timed run per cell; neighbouring cells bound each other's
  * noise.
  */
object AnnSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/sfmut2/sf100")
    val spark = GraftSession.local()
    graft.expressions.VectorExpressions.register(spark)
    // corpus and index tables are written under java.io.tmpdir
    val tmpDir = System.getProperty("java.io.tmpdir")

    val k = 10
    val uniform = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")

    // clustered corpus: 100 deterministic points per BASE vector (the
    // sf0.1 originals, vec_id < 2000 in the replica dirs), elementwise
    // uniform noise from xxhash64 — no RNG, rebuildable anywhere. Noise
    // amplitude targets within-cluster cosine ≈ 0.8: for e ⊥ c,
    // cos = 1/sqrt(1 + (|e|/|c|)^2), so |e| ≈ 0.75|c|, and uniform ±a
    // per dim gives E|e|^2 = dim·a²/3.
    val base = uniform.filter(col("vec_id") < 2000)
    val meanNorm = base
      .select(avg(sqrt(Similarity.dotNative(col("embedding"),
        col("embedding"))))).head().getDouble(0)
    val dim = 64
    val amp = 0.75 * meanNorm * math.sqrt(3.0 / dim)
    val clustered = base
      .select(col("vec_id").as("_c"), col("embedding"),
        explode(array((0 until 100).map(lit): _*)).as("_rep"))
      .select((col("_c") * 100 + col("_rep")).as("vec_id"),
        transform(col("embedding"), (x, d) =>
          (x.cast("double") +
            (pmod(xxhash64(col("_c"), col("_rep"), d), lit(1000000L))
              .cast("double") / 500000.0 - 1.0) * amp
          ).cast("float")).as("embedding"))

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    def sweep(name: String, corpusIn: DataFrame,
              queryPred: org.apache.spark.sql.Column): Unit = {
      // materialize the corpus as a table (the clustered one is otherwise
      // recomputed inside every probe, which would time the generator)
      val dir = s"$tmpDir/annsweep_$name"
      corpusIn.write.mode("overwrite").parquet(s"$dir/corpus")
      val corpus = spark.read.parquet(s"$dir/corpus")
      val queries = corpus.filter(queryPred)
      val n = corpus.count(); val nQ = queries.count().toInt

      val bf = Similarity.bruteForceTopK(corpus, queries, "embedding",
        "vec_id", k)
      bf.count() // warm: JIT + codegen + parquet footers
      val (exact, bfS) = timed(pairs(bf))

      val (cents, ivfTrainS) = timed(
        Similarity.ivfTrain(corpus, "embedding", "vec_id", k = 64,
          iters = 2))
      val (cbs, pqTrainS) = timed(
        Similarity.pqTrain(corpus, "embedding", "vec_id", dim = dim,
          m = 16, ksub = 32, iters = 2))
      // the stored index: built once at write time, probed many times
      val (_, encodeS) = timed(
        Similarity.ivfPqIndex(corpus, "embedding", "vec_id", cents, cbs,
            dim)
          .write.mode("overwrite").parquet(s"$dir/index"))
      val idx = spark.read.parquet(s"$dir/index")

      Similarity.ivfPqProbe(idx, corpus, queries, "embedding", "vec_id",
        cents, cbs, dim, nprobe = 2, k = k, refine = 4).count() // warm

      println(s"== $name: corpus=$n queries=$nQ k=$k cells=64 m=16 ksub=32")
      println(f"train: ivf=$ivfTrainS%.1fs pq=$pqTrainS%.1fs " +
        f"encode+store=$encodeS%.1fs   exact brute force: $bfS%.2fs")
      println("| nprobe | refine | recall@10 | probe s | vs brute |")
      println("|---|---|---|---|---|")
      val cells = for {
        nprobe <- Seq(1, 2, 4, 8, 16)
        refine <- Seq(1, 4, 16)
      } yield {
        val (got, s) = timed(pairs(
          Similarity.ivfPqProbe(idx, corpus, queries, "embedding",
            "vec_id", cents, cbs, dim, nprobe, k, refine)))
        val recall = (exact & got).size.toDouble / exact.size
        println(f"| $nprobe | $refine | $recall%.3f | $s%.2f | ${s / bfS}%.2fx |")
        (nprobe, refine, recall, s)
      }
      val js = cells.map { case (p, r, rec, s) =>
        f"""{"nprobe":$p,"refine":$r,"recall":$rec%.4f,"probe_s":$s%.3f}"""
      }.mkString("[", ",", "]")
      println(s"""{"corpus_kind":"$name","corpus":$n,"n_queries":$nQ,"k":$k,"ivf_train_s":$ivfTrainS,"pq_train_s":$pqTrainS,"encode_s":$encodeS,"brute_s":$bfS,"cells":$js}""")
    }

    // SPARK_GRAFT_ANN_MODE=buildrate: index-build throughput only — the
    // quantitative "train once at write time" number (vectors/s for
    // train + encode+persist) at the sweep corpus and a ×10 replica of
    // it, so the write-time cost has a measured figure next to the
    // probe grid (BASELINE.md).
    if (sys.env.get("SPARK_GRAFT_ANN_MODE").contains("buildrate")) {
      def rate(name: String, corpusIn: DataFrame): Unit = {
        val dir = s"$tmpDir/annrate_$name"
        corpusIn.write.mode("overwrite").parquet(s"$dir/corpus")
        val corpus = spark.read.parquet(s"$dir/corpus")
        val n = corpus.count()
        corpus.limit(1).count() // warm footers
        val (cents, ivfS) = timed(
          Similarity.ivfTrain(corpus, "embedding", "vec_id", k = 64,
            iters = 2))
        val (cbs, pqS) = timed(
          Similarity.pqTrain(corpus, "embedding", "vec_id", dim = dim,
            m = 16, ksub = 32, iters = 2))
        val (_, encS) = timed(
          Similarity.ivfPqIndex(corpus, "embedding", "vec_id", cents,
              cbs, dim)
            .write.mode("overwrite").parquet(s"$dir/index"))
        val tot = ivfS + pqS + encS
        println(f"== buildrate $name: n=$n ivf=$ivfS%.1fs pq=$pqS%.1fs " +
          f"encode+store=$encS%.1fs total=$tot%.1fs " +
          f"rate=${n / tot}%.0f vec/s (encode alone ${n / encS}%.0f vec/s)")
        println(f"""{"buildrate":"$name","n":$n,"ivf_s":$ivfS%.2f,"pq_s":$pqS%.2f,"encode_s":$encS%.2f,"vec_per_s":${n / tot}%.0f}""")
      }
      rate("x1", uniform)
      // ×10 replica with deterministic id offsets — same distribution,
      // 10× the count (2M × 64-dim)
      val n0 = uniform.agg(max("vec_id")).head().getLong(0) + 1
      rate("x10", uniform
        .select(col("embedding"),
          explode(array((0 until 10).map(lit): _*)).as("_r"),
          col("vec_id"))
        .select((col("vec_id") + col("_r") * n0).as("vec_id"),
          col("embedding")))
      spark.stop()
      return
    }

    sweep("uniform", uniform, col("vec_id") < 20)
    // every 100th cluster's first planted point (20 spread-out queries)
    sweep("clustered", clustered, col("vec_id") % 10000 === 0)
    spark.stop()
  }
}
