package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Optimized Product Quantization (Ge, He, Ke & Sun 2013, the
 * non-parametric OPQ; FAISS ships it as the `OPQ` pretransform) — the
 * rotation rung of the ANN ladder: learn an ORTHOGONAL d×d matrix R and
 * PQ codebooks jointly, minimizing Σ‖Rx − q(Rx)‖² over the training
 * sample, then code Rx instead of x. Plain PQ quantizes each fixed
 * dim-slice independently, so correlated energy straddling a subspace
 * boundary wastes codewords; the learned rotation re-axes the space so
 * the m slices carry independent, balanced energy — the recall lever at
 * fixed m that composes BEFORE coding (where IVFADC's residual coding
 * composes before the cell split).
 *
 * Cosine survives untouched: R is orthogonal, so (Rq)·(Rx) = q·x and
 * ‖Rx‖ = ‖x‖ up to float rounding — encode stores the ROTATED norm and
 * search rotates the query once driver-side (d² FLOPs), after which the
 * whole serving path IS [[PqIndex.search]] over the rotated codes: same
 * ADC table, same TakeOrderedAndProject plan, no new shuffle anywhere.
 *
 * The alternating fit runs DRIVER-SIDE on [[PqIndex]]'s deterministic
 * hash-ordered training sample (codebooks are always sample-fit in
 * production; the loop re-rotates the in-memory sample, never re-scans
 * the corpus): fit codebooks on RX → reconstruct → solve the orthogonal
 * Procrustes problem R = argmin‖RX − Y‖² via a hand-rolled one-sided
 * Jacobi SVD (fixed sweep order, no randomness — bit-reproducible where
 * a library SVD would not be). `distortions` rides the model so a
 * caller can SEE the objective fall instead of trusting it did.
 *
 * Exactness anchor (the repo's degenerate convention): R = identity
 * composes to bit-for-bit the plain-PQ path — [[RotateVector]]'s
 * double-accumulated identity product returns the input values — so
 * `ann_opq_exact` shares `nearest_cosine`'s oracle through a lossless
 * codebook while still exercising every piece of rotation plumbing.
 * A LEARNED rotation cannot share a float oracle (R in float32 perturbs
 * the 6th decimal); its recall-vs-PQ win is spec'd and probe-measured.
 */
final case class OpqModel(rotation: Array[Float], pq: PqModel,
    distortions: Array[Double]) {
  def dim: Int = pq.dim
  require(rotation.length == dim * dim,
    s"rotation must be $dim×$dim flat, got ${rotation.length}")

  /** Driver-side R·v — the query-time kernel (d² FLOPs, once per
    * query), double-accumulated in the same j-order as the in-plan
    * [[graft.expressions.RotateVector]] so both sides rotate
    * identically. */
  def rotateLocal(v: Array[Float]): Array[Float] =
    OpqIndex.rotateLocal(rotation, v, dim)
}

object OpqIndex {

  /** The exact-identity rotation for `dim` — the degenerate anchor's
    * constructor (and OPQ's iteration-0 starting point). */
  def identityRotation(dim: Int): Array[Float] = {
    val r = new Array[Float](dim * dim)
    var i = 0
    while (i < dim) { r(i * dim + i) = 1f; i += 1 }
    r
  }

  /** Assemble a model from given artifacts — the
    * [[IvfPqIndex.withArtifacts]] convention; the identity-rotation
    * gate row injects `identityRotation(dim)` over a lossless
    * codebook here. */
  def withArtifacts(rotation: Array[Float], pq: PqModel): OpqModel =
    OpqModel(rotation, pq, Array.empty)

  /**
   * Non-parametric OPQ fit. Each iteration: codebooks on the rotated
   * sample ([[PqIndex.fitLocal]] — the SAME kernel as plain PQ, so a
   * converged identity rotation reproduces `PqIndex.fit` exactly) →
   * local encode/decode for reconstructions → Procrustes update. The
   * final codebooks are refit on the final rotation. `lossless`
   * semantics carry over unchanged (distinct rotated subvectors within
   * k and an exhaustive sample).
   */
  def fit(df: DataFrame, embCol: String, m: Int, k: Int = 256,
      maxTrain: Int = 65536, opqIters: Int = 8, seed: Int = 42): OpqModel = {
    val (sample, dim, nFit) = PqIndex.trainSample(df, embCol, m, k, maxTrain)
    val (rotF, distortions) = alternateFit(sample, dim, m, k, opqIters, seed)
    // The SHIPPED rotation is float32 (RotateVector's matrix), so the
    // FINAL codebooks must be fit on the sample rotated through that
    // float32 matrix with the same double-accumulate kernel — not the
    // loop's full-double rotation, whose last bits differ: a learned-
    // rotation model could otherwise report `lossless = true` (the
    // distinct-set check passed on double-rotated vectors) while
    // serving-time encode rotates to slightly different floats and
    // reconstruction is NOT bit-exact (r16 ADVICE). Identity rotations
    // are a fixed point of the cast, so the degenerate gate rows are
    // provably unchanged.
    val rotFD = rotF.map(_.toDouble)
    val rotatedF = sample.map(v => applyRot(rotFD, v, dim))
    val (codebooks, allDistinct) = PqIndex.fitLocal(rotatedF, dim, m, k, seed)
    OpqModel(rotF, PqModel(m, dim, codebooks,
        lossless = nFit <= maxTrain && allDistinct),
      distortions)
  }

  /** The learned rotation ALONE — the pretransform half of the FAISS
    * `OPQ…,IVF…,PQ…` factory stack ([[OpqIvfPqIndex]] is its consumer):
    * the same alternating fit as [[fit]] on the same deterministic
    * sample, returning (float32 rotation, per-iteration distortions)
    * WITHOUT the final codebooks — the composed index fits its own
    * codebooks downstream, on rotated residuals the plain-PQ
    * alternation never sees. (FAISS trains the OPQ matrix exactly this
    * way: against an internal plain ProductQuantizer, independent of
    * the downstream coarse/residual structure.) */
  private[operators] def fitRotation(df: DataFrame, embCol: String, m: Int,
      k: Int = 256, maxTrain: Int = 65536, opqIters: Int = 8,
      seed: Int = 42): (Array[Float], Array[Double]) = {
    val (sample, dim, _) = PqIndex.trainSample(df, embCol, m, k, maxTrain)
    alternateFit(sample, dim, m, k, opqIters, seed)
  }

  /** The alternation loop [[fit]] and [[fitRotation]] share, over an
    * in-memory sample; returns the SHIPPED float32 rotation. */
  private def alternateFit(sample: Array[Array[Float]], dim: Int, m: Int,
      k: Int, opqIters: Int, seed: Int): (Array[Float], Array[Double]) = {
    require(opqIters >= 1 && opqIters <= 64,
      s"opqIters must be in [1, 64], got $opqIters")
    // SEEDED-RANDOM orthogonal init, not identity — identity is a
    // FIXED POINT of the alternation (measured, and visible in the
    // math): with codebooks fit on Rx, M = Σ x·q(Rx)ᵀ ≈ Σ x xᵀ Rᵀ is
    // near-symmetric once reconstructions are good, and the Procrustes
    // update of a symmetric PSD matrix is the identity — the loop
    // never leaves the start. Ge et al.'s experiments initialize
    // randomly for exactly this reason; the seed keeps the fit a pure
    // function of (data, knobs).
    var rot = randomRotationD(dim, new scala.util.Random(seed.toLong << 16 | 0x5eed))
    val distortions = new Array[Double](opqIters)
    var it = 0
    while (it < opqIters) {
      val rotated = sample.map(v => applyRot(rot, v, dim))
      val (cbs, _) = PqIndex.fitLocal(rotated, dim, m, k, seed)
      val recons = rotated.map(v => reconstruct(v, cbs, dim, m))
      distortions(it) = {
        var s = 0.0; var p = 0
        while (p < rotated.length) {
          var i = 0
          while (i < dim) {
            val d = rotated(p)(i) - recons(p)(i); s += d.toDouble * d; i += 1
          }
          p += 1
        }
        s
      }
      // Procrustes: R = argmin Σ‖Rx − y‖² over orthogonal R, with y the
      // reconstructions IN THE ROTATED SPACE mapped back through the
      // current R onto raw x — equivalently maximize tr(R·M) with
      // M = Σ x_i y_iᵀ; SVD M = U S Vᵀ ⇒ R = V Uᵀ.
      val mMat = Array.ofDim[Double](dim * dim)
      var p = 0
      while (p < sample.length) {
        val x = sample(p); val y = recons(p)
        var i = 0
        while (i < dim) {
          val xi = x(i).toDouble; var j = 0
          while (j < dim) { mMat(i * dim + j) += xi * y(j); j += 1 }
          i += 1
        }
        p += 1
      }
      procrustes(mMat, dim) match {
        case Some(r) => rot = r
        case None => // rank-deficient M (degenerate sample) — keep R
      }
      it += 1
    }
    (rot.map(_.toFloat), distortions)
  }

  /** Static R·v kernel (double-accumulated, the same j-order as the
    * in-plan [[graft.expressions.RotateVector]]) — shared by
    * [[OpqModel.rotateLocal]] and [[OpqIvfPqIndex]]'s query rotation. */
  private[operators] def rotateLocal(rotation: Array[Float],
      v: Array[Float], dim: Int): Array[Float] = {
    require(v.length == dim, s"query dim ${v.length} != model dim $dim")
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      var s = 0.0; var j = 0; val base = i * dim
      while (j < dim) { s += rotation(base + j).toDouble * v(j); j += 1 }
      out(i) = s.toFloat
      i += 1
    }
    out
  }

  /** Rotate in-plan ([[graft.expressions.RotateVector]], codegen) then
    * [[PqIndex.encode]] — codes and the stored norm are of Rx; the
    * embedding itself is consumed and DROPPED, same as every coded
    * tier. */
  def encode(df: DataFrame, embCol: String, model: OpqModel,
      codesCol: String = "pq_codes", normCol: String = "emb_norm"): DataFrame = {
    require(!df.columns.contains("__opq_rot"),
      "input frame carries reserved staging column '__opq_rot' — rename it before encode")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val rotated = df.withColumn("__opq_rot", ColumnBridge.column(
      graft.expressions.RotateVector(
        ColumnBridge.expression(col(embCol)), model.rotation, model.dim)))
    PqIndex.encode(rotated, "__opq_rot", model.pq, codesCol, normCol)
      .drop("__opq_rot", embCol)
  }

  /** Per-row codec quality under the rotation —
    * [[PqIndex.selfSimilarity]] over the rotated column: cos(Rx,
    * q(Rx)), exactly what ADC serving compares against. Measured
    * corpus-wide at r16 by the removed ScaleProbe `opq` mode (OPQ mean
    * 0.97388 vs plain PQ 0.94910 at 1M correlated rows, equal m/k;
    * `git show e105133:src/main/scala/graft/ScaleProbe.scala`). */
  def selfSimilarity(df: DataFrame, embCol: String, model: OpqModel,
      simCol: String = "self_sim"): DataFrame = {
    require(!df.columns.contains("__opq_rot"),
      "input frame carries reserved staging column '__opq_rot' — rename it first")
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val rotated = df.withColumn("__opq_rot", ColumnBridge.column(
      graft.expressions.RotateVector(
        ColumnBridge.expression(col(embCol)), model.rotation, model.dim)))
    PqIndex.selfSimilarity(rotated, "__opq_rot", model.pq, simCol)
      .drop("__opq_rot")
  }

  /** ADC top-k: rotate the query ONCE driver-side, then the plain
    * [[PqIndex.search]] plan over the rotated codes. */
  def search(encoded: DataFrame, queryVec: Array[Float], n: Int,
      model: OpqModel, codesCol: String = "pq_codes",
      normCol: String = "emb_norm", simCol: String = "similarity",
      tieBreakers: Seq[Column] = Nil): DataFrame =
    PqIndex.search(encoded, model.rotateLocal(queryVec), n, model.pq,
      codesCol, normCol, simCol, tieBreakers)

  /** Persist: the PQ artifact + the rotation as one parquet row-major
    * frame (row, vector) — pure data, the frozen-artifact convention. */
  def save(model: OpqModel, path: String): Unit = {
    val spark = SparkSession.active
    import spark.implicits._
    PqIndex.save(model.pq, s"$path/pq")
    (0 until model.dim).map(i => (i,
        model.rotation.slice(i * model.dim, (i + 1) * model.dim).toSeq))
      .toDF("row", "vector")
      .write.mode("overwrite").parquet(s"$path/rotation")
  }

  def load(spark: SparkSession, path: String): OpqModel = {
    val pq = PqIndex.load(spark, s"$path/pq")
    OpqModel(readRotation(spark, s"$path/rotation", pq.dim), pq, Array.empty)
  }

  /** A saved `dim`×`dim` rotation as one row-major flat array — read
    * driver-side and BY NAME ([[ParquetArtifacts]]), shared with
    * [[OpqIvfPqIndex.readRotation]]. */
  private[operators] def readRotation(spark: SparkSession, dir: String,
      dim: Int): Array[Float] = {
    import ParquetArtifacts.{FloatsKind, IntKind}
    val rows = ParquetArtifacts.read(spark, dir, "row" -> IntKind, "vector" -> FloatsKind)
      .map(r => (r(0).asInstanceOf[Int], r(1).asInstanceOf[Array[Float]]))
      .sortBy(_._1)
    require(rows.length == dim && rows.forall(_._2.length == dim),
      s"$dir is not a $dim×$dim matrix")
    rows.flatMap(_._2).toArray
  }

  // ---- driver-side numeric kernels (double precision throughout) ----

  private def identityRotationD(dim: Int): Array[Double] = {
    val r = new Array[Double](dim * dim)
    var i = 0
    while (i < dim) { r(i * dim + i) = 1.0; i += 1 }
    r
  }

  /** Seeded dense orthogonal matrix: gaussian entries, modified
    * Gram-Schmidt columns — the alternation's symmetry-breaking
    * starting point. */
  private def randomRotationD(dim: Int, rnd: scala.util.Random): Array[Double] = {
    val a = Array.fill(dim, dim)(rnd.nextGaussian())
    var j = 0
    while (j < dim) {
      var p = 0
      while (p < j) {
        var dot = 0.0; var i = 0
        while (i < dim) { dot += a(i)(j) * a(i)(p); i += 1 }
        i = 0
        while (i < dim) { a(i)(j) -= dot * a(i)(p); i += 1 }
        p += 1
      }
      var n = 0.0; var i = 0
      while (i < dim) { n += a(i)(j) * a(i)(j); i += 1 }
      val inv = 1.0 / math.sqrt(n)
      i = 0
      while (i < dim) { a(i)(j) *= inv; i += 1 }
      j += 1
    }
    val flat = new Array[Double](dim * dim)
    var r = 0
    while (r < dim) {
      var c = 0
      while (c < dim) { flat(r * dim + c) = a(r)(c); c += 1 }
      r += 1
    }
    flat
  }

  private def applyRot(rot: Array[Double], v: Array[Float],
      dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      var s = 0.0; var j = 0; val base = i * dim
      while (j < dim) { s += rot(base + j) * v(j); j += 1 }
      out(i) = s.toFloat
      i += 1
    }
    out
  }

  /** Nearest-codeword reconstruction of a rotated sample vector —
    * the fit loop's local decode (strict-< ties to the lower codeword,
    * [[graft.expressions.PqCodec]]'s convention). */
  private def reconstruct(v: Array[Float], cbs: Array[Array[Array[Float]]],
      dim: Int, m: Int): Array[Float] = {
    val sub = dim / m
    val out = new Array[Float](dim)
    var j = 0
    while (j < m) {
      val cb = cbs(j)
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cb.length) {
        var d = 0.0; var i = 0
        while (i < sub) {
          val diff = v(j * sub + i).toDouble - cb(c)(i); d += diff * diff; i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      System.arraycopy(cb(best), 0, out, j * sub, sub)
      j += 1
    }
    out
  }

  /** Orthogonal Procrustes via one-sided Jacobi SVD of the d×d matrix
    * M (fixed cyclic sweep order, fixed tolerance — deterministic):
    * M = U S Vᵀ ⇒ returns R = V Uᵀ. None when M is numerically
    * rank-deficient (a zero singular value leaves U's column
    * undetermined — refuse the update rather than guess a basis). */
  private[operators] def procrustes(mIn: Array[Double],
      dim: Int): Option[Array[Double]] = {
    // one-sided Jacobi on columns of A (A starts as M): find V with
    // A·V having orthogonal columns; then A·V = U·S column-wise
    val a = Array.ofDim[Double](dim * dim)
    System.arraycopy(mIn, 0, a, 0, dim * dim)
    val v = identityRotationD(dim)
    @inline def colDot(x: Array[Double], p: Int, q: Int): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { s += x(i * dim + p) * x(i * dim + q); i += 1 }
      s
    }
    @inline def rotCols(x: Array[Double], p: Int, q: Int,
        c: Double, s: Double): Unit = {
      var i = 0
      while (i < dim) {
        val xp = x(i * dim + p); val xq = x(i * dim + q)
        x(i * dim + p) = c * xp - s * xq
        x(i * dim + q) = s * xp + c * xq
        i += 1
      }
    }
    var sweep = 0
    var changed = true
    while (changed && sweep < 60) {
      changed = false
      var p = 0
      while (p < dim - 1) {
        var q = p + 1
        while (q < dim) {
          val app = colDot(a, p, p); val aqq = colDot(a, q, q)
          val apq = colDot(a, p, q)
          if (math.abs(apq) > 1e-14 * math.sqrt(app * aqq) && apq != 0.0) {
            changed = true
            val tau = (aqq - app) / (2.0 * apq)
            // tau = 0 (equal diagonals) needs the FULL 45° rotation
            // t = 1; signum(0) = 0 would silently no-op the pair
            val t = if (tau == 0.0) 1.0
              else math.signum(tau) / (math.abs(tau) + math.sqrt(1.0 + tau * tau))
            val c = 1.0 / math.sqrt(1.0 + t * t)
            val s = c * t
            rotCols(a, p, q, c, s)
            rotCols(v, p, q, c, s)
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    // A·V's columns are u_j·s_j; normalize for U. Near-zero singular
    // values are NOT an error: real embedding spectra have near-null
    // tails (and anisotropic fixtures put s_min/s_max below any float
    // tolerance), and normalizing a tiny column amplifies Jacobi
    // residue into a non-orthogonal U. So U's well-determined columns
    // come from A and the degenerate ones are COMPLETED to an
    // orthonormal basis deterministically (argmax-residual canonical
    // vectors, Gram-Schmidt against everything accepted) — the
    // completed directions carry no data mass, so which basis fills
    // them cannot change what the rotation does to the corpus.
    val u = Array.ofDim[Double](dim * dim)
    var maxS = 0.0
    val sv = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      sv(j) = math.sqrt(colDot(a, j, j)); if (sv(j) > maxS) maxS = sv(j)
      j += 1
    }
    if (maxS == 0.0) return None // M ≡ 0: no signal at all — keep R
    val good = new Array[Boolean](dim)
    j = 0
    while (j < dim) {
      good(j) = sv(j) > 1e-9 * maxS
      if (good(j)) {
        var i = 0
        while (i < dim) { u(i * dim + j) = a(i * dim + j) / sv(j); i += 1 }
      }
      j += 1
    }
    j = 0
    while (j < dim) {
      if (!good(j)) {
        // candidate e_c with the LARGEST residual after projecting out
        // every accepted/completed column — deterministic, never zero
        // (an orthonormal set of < dim vectors cannot absorb all of
        // every canonical vector)
        var bestC = -1; var bestR2 = -1.0
        var c = 0
        while (c < dim) {
          var r2 = 1.0
          var l = 0
          while (l < dim) {
            if (l != j && (good(l) || l < j)) {
              // projection of e_c on column l is just u[c][l]
              r2 -= u(c * dim + l) * u(c * dim + l)
            }
            l += 1
          }
          if (r2 > bestR2) { bestR2 = r2; bestC = c }
          c += 1
        }
        // materialize e_bestC minus projections, normalize
        val vcol = new Array[Double](dim)
        vcol(bestC) = 1.0
        var l = 0
        while (l < dim) {
          if (l != j && (good(l) || l < j)) {
            var dot = 0.0; var i = 0
            while (i < dim) { dot += vcol(i) * u(i * dim + l); i += 1 }
            i = 0
            while (i < dim) { vcol(i) -= dot * u(i * dim + l); i += 1 }
          }
          l += 1
        }
        var n2 = 0.0; var i = 0
        while (i < dim) { n2 += vcol(i) * vcol(i); i += 1 }
        if (n2 <= 1e-9) return None // cannot complete — keep R
        val inv = 1.0 / math.sqrt(n2)
        i = 0
        while (i < dim) { u(i * dim + j) = vcol(i) * inv; i += 1 }
      }
      j += 1
    }
    // R = V·Uᵀ: R[i][l] = Σ_j V[i][j] · U[l][j]
    val r = Array.ofDim[Double](dim * dim)
    var i = 0
    while (i < dim) {
      var l = 0
      while (l < dim) {
        var s = 0.0; var jj = 0
        while (jj < dim) { s += v(i * dim + jj) * u(l * dim + jj); jj += 1 }
        r(i * dim + l) = s
        l += 1
      }
      i += 1
    }
    Some(r)
  }
}
