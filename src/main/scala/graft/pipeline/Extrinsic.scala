package graft.pipeline

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.NormalEqAgg
import graft.ops.Geometry

/** The reference's extrinsic-calibration composite (SURVEY.md §2.9;
  * extrinsic_calibration.py:244-316):
  *
  *   A. validate: key-intersection of pixel/world corner tables (J2/A6)
  *   B. init: per-pose planar PnP via mapGroups over the first N poses,
  *      column-mean of rvec/tvec (extrinsic_calibration.py:41-79)
  *   C. refine: driver-side Levenberg-Marquardt on the 6 params, where
  *      every evaluation (normal equations, candidate cost) is ONE typed
  *      pass over the corner table (the Spark MLlib pattern — at 100 TB
  *      each iteration is a single shuffle-free pass returning 28 doubles
  *      per partition)
  *   D. evaluate: per-point reprojection error -> per-pose mean -> grand
  *      stats (X5 / A2 / A1), golden-matched against camera_extrinsic.npz
  *
  * Per-point math is the scalar projector `Geometry.CvCamera` run inside
  * task closures, with the camera and the parameters carried as data in
  * a serializable `ExtrinsicKernel`: the passes are planned once per
  * corner table, not once per LM step. Only the 6-parameter solve itself
  * lives on the driver; the error statistics stay DataFrame aggregates.
  */
object Extrinsic {

  /** One corner observation: detected pixel (u, v), world point (x, y, z). */
  type Obs = (Double, Double, Double, Double, Double)

  /** (pose_id, ord, corner_idx, u, v, x, y, z) — pixel+world corners. */
  def loadCorners(spark: SparkSession, fixturesDir: String): DataFrame = {
    val pix = spark.read.parquet(s"$fixturesDir/pixel_corners.parquet")
    val wld = spark.read.parquet(s"$fixturesDir/world_corners.parquet")
      .drop("ord")
    pix.join(wld, Seq("pose_id", "corner_idx"))
  }

  /** The corner table as typed observations. A row with a null field is
    * a masked corner and is dropped whole, as `normal_eq_agg` and the SQL
    * aggregates skip a row whose residuals are null.
    *
    * With `quantize`, world coordinates are rounded through float32 first
    * — the reference casts them with dtype=np.float32 before
    * cv2.projectPoints (extrinsic_calibration.py:197-198), and the golden
    * reprojection_stats are only reproducible to 1e-6 with that
    * quantization (verified: max deviation 7e-14 with it, 4e-5 without).
    */
  private[graft] def observations(corners: DataFrame, quantize: Boolean)
      : Dataset[Obs] = {
    val spark = corners.sparkSession
    import spark.implicits._
    def world(c: String) =
      if (quantize) col(c).cast("float").cast("double") else col(c).cast("double")
    corners.na.drop(Seq("u", "v", "x", "y", "z"))
      .select(col("u").cast("double"), col("v").cast("double"),
        world("x"), world("y"), world("z"))
      .as[Obs]
  }

  /** Stage D: per-point reprojection error (world -> camera (X6) ->
    * project (X9, full cv2 rational model) -> Euclidean distance to the
    * detected pixel (X5)) in one typed map, then mean/std_pop/max/min/
    * median/RMSE over all point errors (extrinsic_calibration.py:216-226).
    * `t` is the extrinsic (row-major 4x4). Returns the 6 stats.
    */
  def reprojectionStats(corners: DataFrame, k: Seq[Double],
      dist: Seq[Double], t: Seq[Double]): Map[String, Double] = {
    val spark = corners.sparkSession
    import spark.implicits._
    val ker = ExtrinsicKernel(Geometry.CvCamera(k, dist), Array(t.toArray), 0.0)
    val e = observations(corners, quantize = true)
      .map(o => ker.error(o)).toDF("err")
    val r = e.agg(
      avg("err"), stddev_pop(col("err")), max("err"), min("err"),
      median(col("err")), sqrt(avg(col("err") * col("err")))).collect()(0)
    Map(
      "mean_error" -> r.getDouble(0), "std_error" -> r.getDouble(1),
      "max_error" -> r.getDouble(2), "min_error" -> r.getDouble(3),
      "median_error" -> r.getDouble(4), "rmse" -> r.getDouble(5))
  }

  // ---- plain-Scala small linear algebra (driver/executor kernels) ----

  /** Rodrigues vector -> row-major 3x3 (scala twin of Geometry.rodrigues). */
  def rodriguesScalar(r: Seq[Double]): Array[Double] = {
    val theta = math.sqrt(r.map(x => x * x).sum)
    if (theta < 1e-12) return Array(1, 0, 0, 0, 1, 0, 0, 0, 1)
    val Seq(kx, ky, kz) = r.map(_ / theta)
    val c = math.cos(theta); val s = math.sin(theta); val v = 1 - c
    Array(
      c + kx * kx * v, kx * ky * v - kz * s, kx * kz * v + ky * s,
      ky * kx * v + kz * s, c + ky * ky * v, ky * kz * v - kx * s,
      kz * kx * v - ky * s, kz * ky * v + kx * s, c + kz * kz * v)
  }

  /** Rotation matrix (row-major 9) -> Rodrigues vector. Goes through the
    * quaternion (Shepperd's branch selection) so it is stable for theta
    * near pi — which is exactly where this camera lives (rotated ~pi
    * about z relative to BASE; the naive skew-part formula divides by
    * sin(theta) ~ 0 there and returns garbage).
    */
  def rodriguesInv(m: Seq[Double]): Array[Double] = {
    val tr = m(0) + m(4) + m(8)
    var (qw, qx, qy, qz) = (0.0, 0.0, 0.0, 0.0)
    if (tr > 0) {
      val s = math.sqrt(tr + 1) * 2
      qw = 0.25 * s; qx = (m(7) - m(5)) / s
      qy = (m(2) - m(6)) / s; qz = (m(3) - m(1)) / s
    } else if (m(0) > m(4) && m(0) > m(8)) {
      val s = math.sqrt(1 + m(0) - m(4) - m(8)) * 2
      qw = (m(7) - m(5)) / s; qx = 0.25 * s
      qy = (m(1) + m(3)) / s; qz = (m(2) + m(6)) / s
    } else if (m(4) > m(8)) {
      val s = math.sqrt(1 + m(4) - m(0) - m(8)) * 2
      qw = (m(2) - m(6)) / s; qx = (m(1) + m(3)) / s
      qy = 0.25 * s; qz = (m(5) + m(7)) / s
    } else {
      val s = math.sqrt(1 + m(8) - m(0) - m(4)) * 2
      qw = (m(3) - m(1)) / s; qx = (m(2) + m(6)) / s
      qy = (m(5) + m(7)) / s; qz = 0.25 * s
    }
    if (qw < 0) { qw = -qw; qx = -qx; qy = -qy; qz = -qz }
    val sinHalf = math.sqrt(qx * qx + qy * qy + qz * qz)
    if (sinHalf < 1e-12) return Array(0, 0, 0)
    val theta = 2 * math.atan2(sinHalf, qw)
    val scale = theta / sinHalf
    Array(qx * scale, qy * scale, qz * scale)
  }

  /** [rvec,tvec] 6-params -> row-major 4x4 T. */
  def paramsToT(p: Seq[Double]): Seq[Double] = {
    val r = rodriguesScalar(p.take(3))
    Seq(
      r(0), r(1), r(2), p(3),
      r(3), r(4), r(5), p(4),
      r(6), r(7), r(8), p(5),
      0.0, 0.0, 0.0, 1.0)
  }

  /** Solve the symmetric 6x6 system A x = b (partial-pivot elimination). */
  private def solve6(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val n = 6
    val m = Array.tabulate(n)(i => a(i) :+ b(i))
    for (c0 <- 0 until n) {
      val piv = (c0 until n).maxBy(r => math.abs(m(r)(c0)))
      val tmp = m(c0); m(c0) = m(piv); m(piv) = tmp
      require(math.abs(m(c0)(c0)) > 1e-15, "singular normal equations")
      for (r <- c0 + 1 until n) {
        val f = m(r)(c0) / m(c0)(c0)
        for (c <- c0 until n + 1) m(r)(c) -= f * m(c0)(c)
      }
    }
    val x = new Array[Double](n)
    for (r <- n - 1 to 0 by -1) {
      var s = m(r)(n)
      for (c <- r + 1 until n) s -= m(r)(c) * x(c)
      x(r) = s / m(r)(r)
    }
    x
  }

  /** Kernel of one LM evaluation at `p`: T at p, then T at p with each
    * parameter stepped by `eps` (the forward-difference Jacobian).
    */
  private[graft] def lmKernel(cam: Geometry.CvCamera, p: Array[Double],
      eps: Double): ExtrinsicKernel =
    ExtrinsicKernel(cam, (paramsToT(p.toSeq) +: (0 until 6).map { i =>
      val pi = p.clone(); pi(i) += eps
      paramsToT(pi.toSeq)
    }).map(_.toArray).toArray, eps)

  /** One normal-equation pass: `normal_eq_agg`'s 28 doubles (cost, J^T J
    * upper triangle, J^T r) over `obs`. Each partition folds its rows
    * through NormalEqAgg's shared routine; the driver adds the
    * per-partition buffers in partition order, so the sum does not
    * depend on which task finishes first.
    */
  private[graft] def normalEquations(obs: RDD[Obs],
      ker: ExtrinsicKernel): Array[Double] = {
    val buf = new Array[Double](NormalEqAgg.N)
    obs.mapPartitions(rows => ker.normalEq(rows)).collect()
      .foreach(NormalEqAgg.merge(buf, _))
    buf
  }

  /** Stage C: Levenberg-Marquardt over [rvec,tvec]. Each iteration is one
    * normal-equation pass plus one candidate-cost pass per damping try,
    * each a typed `mapPartitions` over the (cached) corner table whose
    * task closure carries the current parameters as data. The passes
    * are planned once, as `obs` below; an LM step only ships new doubles.
    * Returns the parameters and the cost at them.
    */
  def refine(corners: DataFrame, k: Seq[Double], dist: Seq[Double],
      init: Seq[Double], maxIter: Int = 50, eps: Double = 1e-6)
      : (Seq[Double], Double) = {
    val cam = Geometry.CvCamera(k, dist)
    val obs = observations(corners, quantize = false).rdd

    var p = init.toArray
    var lambda = 1e-3
    var cost = Double.MaxValue
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val ne = normalEquations(obs, lmKernel(cam, p, eps))
      val c0 = ne(0)
      val jtj = Array.ofDim[Double](6, 6)
      var idx = 1
      for (i <- 0 until 6; j <- i until 6) {
        jtj(i)(j) = ne(idx); jtj(j)(i) = jtj(i)(j); idx += 1
      }
      val jtr = Array.tabulate(6)(i => ne(idx + i))

      // LM: (JtJ + lambda diag(JtJ)) step = -Jtr; accept if cost drops
      var accepted = false
      var tries = 0
      while (!accepted && tries < 8) {
        val damped = Array.tabulate(6, 6)((i, j) =>
          jtj(i)(j) + (if (i == j) lambda * jtj(i)(i) else 0.0))
        val step = solve6(damped, jtr.map(-_))
        val cand = p.zip(step).map { case (a, b) => a + b }
        val ker = ExtrinsicKernel(cam, Array(paramsToT(cand.toSeq).toArray), eps)
        val cCand = obs.mapPartitions(rows => ker.cost(rows)).collect()
          .foldLeft(0.0)(_ + _)
        if (cCand < c0) {
          if (math.abs(c0 - cCand) < 1e-9 * c0) converged = true
          p = cand; cost = cCand; lambda = (lambda / 3).max(1e-12)
          accepted = true
        } else {
          lambda *= 10; tries += 1
        }
      }
      if (!accepted) converged = true
      iter += 1
    }
    (p.toSeq, cost)
  }

  /** Stage B: per-pose planar PnP (the 4 sample corners are coplanar —
    * the TOOL-frame source square, point3d_transformation.py:139-140):
    * build a deterministic plane frame, solve the plane->normalized-image
    * homography exactly (4 points), decompose to [R|t], compose back to
    * camera-from-BASE. Distortion is ignored at init (it is an init).
    * Runs as mapGroups per pose; rvec/tvec averaged over the sample
    * (extrinsic_calibration.py:72-73 np.mean(axis=0)).
    */
  def initPnp(corners: DataFrame, k: Seq[Double], sampleSize: Int = 20)
      : Seq[Double] = {
    val spark = corners.sparkSession
    import spark.implicits._
    val (fx, fy, cx0, cy0) = (k(0), k(4), k(2), k(5))
    val sample = corners.filter(col("ord") < sampleSize)
      .select(col("pose_id"), col("corner_idx"),
        col("u"), col("v"), col("x"), col("y"), col("z"))
      .as[(String, Long, Double, Double, Double, Double, Double)]
    val poses = sample.groupByKey(_._1).mapGroups { (_, it) =>
      val pts = it.toSeq.sortBy(_._2)
      val w = pts.map(p => Array(p._5, p._6, p._7)) // world, BASE frame
      val px = pts.map(p => ((p._3 - cx0) / fx, (p._4 - cy0) / fy))
      // deterministic plane frame
      def sub(a: Array[Double], b: Array[Double]) =
        Array(a(0) - b(0), a(1) - b(1), a(2) - b(2))
      def dot3(a: Array[Double], b: Array[Double]) =
        a(0) * b(0) + a(1) * b(1) + a(2) * b(2)
      def cross(a: Array[Double], b: Array[Double]) = Array(
        a(1) * b(2) - a(2) * b(1), a(2) * b(0) - a(0) * b(2),
        a(0) * b(1) - a(1) * b(0))
      def norm(a: Array[Double]) = {
        val n = math.sqrt(dot3(a, a)); a.map(_ / n)
      }
      val o = Array(0, 1, 2).map(i => w.map(_(i)).sum / 4)
      val e1 = norm(sub(w(1), w(0)))
      val n = norm(cross(sub(w(1), w(0)), sub(w(3), w(0))))
      val e2 = cross(n, e1)
      val plane2d = w.map(p => (dot3(sub(p, o), e1), dot3(sub(p, o), e2)))
      // homography plane2d -> normalized image
      val h = Geometry.solveHomography(plane2d, px)
      val h1 = Array(h(0), h(3), h(6)); val h2 = Array(h(1), h(4), h(7))
      val h3 = Array(h(2), h(5), h(8))
      val lam = 2.0 / (math.sqrt(dot3(h1, h1)) + math.sqrt(dot3(h2, h2)))
      var r1 = h1.map(_ * lam); var r2h = h2.map(_ * lam)
      var tp = h3.map(_ * lam)
      if (tp(2) < 0) { r1 = r1.map(-_); r2h = r2h.map(-_); tp = tp.map(-_) }
      // Gram-Schmidt to SO(3)
      r1 = norm(r1)
      val r2o = sub(r2h, r1.map(_ * dot3(r1, r2h)))
      val r2n = norm(r2o)
      val r3 = cross(r1, r2n)
      // R_cam_plane * Q^T where Q = [e1 e2 n] (plane->BASE)
      val rcp = Array(
        Array(r1(0), r2n(0), r3(0)),
        Array(r1(1), r2n(1), r3(1)),
        Array(r1(2), r2n(2), r3(2)))
      val q = Array(e1, e2, n) // rows = plane axes in BASE => Q^T rows
      val r = Array.tabulate(3, 3)((i, j) => dot3(rcp(i), Array(q(0)(j), q(1)(j), q(2)(j))))
      val rflat = r.flatten
      val t = Array.tabulate(3)(i => tp(i) - dot3(r(i), o))
      val rvec = rodriguesInv(rflat.toSeq)
      (rvec(0), rvec(1), rvec(2), t(0), t(1), t(2))
    }
    // Column-mean of the sampled solutions (extrinsic_calibration.py:72-73)
    // with one correction the reference gets away with only by luck of
    // cv2's parameterization: near theta = pi the axis sign flips between
    // poses on either side of pi (rvec ~ +pi*k vs -pi*k are the same
    // rotation), so rvecs must be sign-aligned to an anchor before
    // averaging — a naive mean cancels them toward zero.
    val sols = poses.collect()
    require(sols.nonEmpty, "no poses in init sample")
    val anchor = Array(sols.head._1, sols.head._2, sols.head._3)
    val aligned = sols.map { s =>
      val dot = s._1 * anchor(0) + s._2 * anchor(1) + s._3 * anchor(2)
      if (dot < 0) (-s._1, -s._2, -s._3, s._4, s._5, s._6) else s
    }
    val n = aligned.length.toDouble
    Seq(
      aligned.map(_._1).sum / n, aligned.map(_._2).sum / n,
      aligned.map(_._3).sum / n, aligned.map(_._4).sum / n,
      aligned.map(_._5).sum / n, aligned.map(_._6).sum / n)
  }
}

/** The per-row math of one extrinsic evaluation, kept outside `object
  * Extrinsic` so a task closure captures only this holder: the camera and
  * the transforms are plain fields, shipped as data with each task.
  * `ts(0)` is the evaluated extrinsic (row-major 4x4); for a normal-
  * equation pass `ts(1..6)` are the extrinsics at each parameter stepped
  * by `eps`.
  */
private[graft] final case class ExtrinsicKernel(cam: Geometry.CvCamera,
    ts: Array[Array[Double]], eps: Double) {
  import Extrinsic.Obs

  /** (projected - detected) pixel residual of `o` under the extrinsic `t`. */
  def residual(t: Array[Double], o: Obs): (Double, Double) = {
    val (u, v, x, y, z) = o
    val (pu, pv) = cam.project(
      t(0) * x + t(1) * y + t(2) * z + t(3),
      t(4) * x + t(5) * y + t(6) * z + t(7),
      t(8) * x + t(9) * y + t(10) * z + t(11))
    (pu - u, pv - v)
  }

  /** Reprojection error of `o` under `ts(0)`. */
  def error(o: Obs): Double = {
    val (du, dv) = residual(ts(0), o)
    math.sqrt(du * du + dv * dv)
  }

  /** `normal_eq_agg`'s inputs for `o`: (r_u, r_v), then each parameter's
    * forward-difference Jacobian (u, v) pair.
    */
  def terms(o: Obs): Array[Double] = {
    val out = new Array[Double](NormalEqAgg.Inputs)
    val (r0u, r0v) = residual(ts(0), o)
    out(0) = r0u; out(1) = r0v
    var i = 1
    while (i < ts.length) {
      val (ru, rv) = residual(ts(i), o)
      out(2 * i) = (ru - r0u) / eps; out(2 * i + 1) = (rv - r0v) / eps
      i += 1
    }
    out
  }

  /** One partition's normal-equation buffer. */
  def normalEq(rows: Iterator[Obs]): Iterator[Array[Double]] = {
    val buf = new Array[Double](NormalEqAgg.N)
    rows.foreach(o => NormalEqAgg.fold(buf, terms(o)))
    Iterator.single(buf)
  }

  /** One partition's sum of squared residuals under `ts(0)`. */
  def cost(rows: Iterator[Obs]): Iterator[Double] = {
    var s = 0.0
    rows.foreach { o =>
      val (ru, rv) = residual(ts(0), o)
      s += ru * ru + rv * rv
    }
    Iterator.single(s)
  }
}
