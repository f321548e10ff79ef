package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.clustering.GraphBuild

/** Product quantization (Jégou et al. 2011, "Product Quantization for
  * Nearest Neighbor Search") — the memory-bounded ANN path that
  * complements the IVF/NSW family: the 64-dim vector is split into
  * m = 8 contiguous 8-dim subspaces, each subspace gets its own
  * k = 16-centroid codebook (trained with the same bounded KMeans the
  * IVF coarse quantizer uses), and a vector is stored as 8 code bytes
  * instead of 512 vector bytes — the 64× compression that lets a
  * 100 TB corpus keep its whole ANN index in cluster memory. Probe-side
  * search is ADC (asymmetric distance computation): the probe stays
  * exact, distances are Σⱼ ‖probe_subⱼ − codebookⱼ[codeⱼ]‖² — one
  * 128-entry lookup table per probe, no decompression.
  *
  * Oracle-parity design (the AnnIvf centroid-export pattern): the
  * trained codebooks are exported as (j, c, centroid) rows; ENCODING is
  * the exact replayable assignment rule (per-subspace Σ(xᵢ−cᵢ)² in
  * index order, strict `<`, tie → lowest code — `assignNearestArr`'s
  * rule applied per subspace), and ADC is plain fold arithmetic both
  * engines reproduce bit-for-bit from the exported doubles.
  *
  * Reference anchor: the pgvector ANN surface (`db/models/embedding.py:15-18`)
  * declares the cosine index; PQ is the standard scale form of that
  * declared operator when the corpus outgrows raw-vector memory.
  */
object PqOps {

  /** codebooks(j)(c) = the 8-dim centroid for code c of subspace j;
    * codes = (idCol, codes ARRAY<INT> of length m), persisted.
    */
  final case class PqIndex(codebooks: Array[Array[Array[Double]]],
      codes: DataFrame, idCol: String, m: Int, k: Int, dSub: Int)

  // public for the Catalyst serializer, same as AnnIvf.AssignedRow
  final case class CodeRow(id: Long, codes: Seq[Int])

  /** Train the m per-subspace codebooks and encode the corpus.
    *
    * Training cost is bounded: ONE gather of the bounded training set
    * ([[GraphBuild.trainingSet]] at k = 16 and `sampleFloor = 0`, so
    * every corpus size trains on the same ~64·k-row hash-stride sample —
    * the FAISS convention; a 16-centroid codebook never needs
    * full-corpus Lloyd), then m in-process Lloyd fits over its dSub-wide
    * slices. Encoding, the one full pass, is embarrassingly parallel.
    * The export-replay oracles are training-independent, so the sample
    * is a pure cost choice.
    */
  def buildPq(emb: DataFrame, idCol: String, arrCol: String,
      m: Int = 8, k: Int = 16): PqIndex = {
    val doubled = emb.select(col(idCol),
      graft.functions.VectorOps.toDoubleArr(col(arrCol)).as("e")).persist()
    val ts = GraphBuild.trainingSet(doubled, idCol, "e", maxMicro = k, sampleFloor = 0L)
    val dim = ts.points(0).length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dSub = dim / m
    // centers array index == code (the microCluster contract)
    val codebooks = Array.tabulate(m) { j =>
      ts.fit(ts.points.map(_.slice(j * dSub, (j + 1) * dSub)))
    }
    val codes = encode(doubled, idCol, "e", codebooks).persist()
    codes.count()
    doubled.unpersist()
    PqIndex(codebooks, codes, idCol, m, k, dSub)
  }

  /** Per-subspace nearest-codeword assignment as one narrow pass (the
    * assignNearestArr shape: codebooks ride the task closure, every
    * vector computes its m argmins in place — no shuffle, no blowup).
    * Strict `<` keeps the LOWEST code on ties.
    */
  private[graft] def encode(vecs: DataFrame, idCol: String, featCol: String,
      codebooks: Array[Array[Array[Double]]]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val m = codebooks.length
    val dSub = codebooks(0)(0).length
    vecs.select(col(idCol).cast("long").as("_id"), col(featCol).as("e"))
      .as[(Long, Seq[Double])]
      .mapPartitions { it =>
        it.map { case (id, e) =>
          val ea = e.toArray
          val cs = new Array[Int](m)
          var j = 0
          while (j < m) {
            val cb = codebooks(j)
            var best = -1; var bestD = Double.MaxValue
            var c = 0
            while (c < cb.length) {
              val cv = cb(c)
              var d = 0.0; var i = 0
              while (i < dSub) {
                val t = ea(j * dSub + i) - cv(i); d += t * t; i += 1
              }
              if (d < bestD) { bestD = d; best = c }
              c += 1
            }
            cs(j) = best
            j += 1
          }
          CodeRow(id, cs.toSeq)
        }
      }
      .toDF("_id", "codes")
      .select(col("_id").as(idCol), col("codes"))
  }
}
