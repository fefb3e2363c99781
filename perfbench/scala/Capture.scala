package perfbench

import java.io.File
import java.util.concurrent.{Callable, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Codecs, Corners, Hdr, Sources, Warp}
import graft.pipeline.{DataPipeline, PoseGrid}

/** `capture_pipeline`: the paper's capture chain (calibrate → detect
  * corners → extrinsics → rectify → HDR-merge → crop) over a synthetic
  * capture with known ground truth.
  *
  * The generator renders, from the seed:
  *  - 15 chessboard views (`Corners.renderChessboard` warped through the
  *    true K and a board pose), the calibration input;
  *  - P poses of the programmed `PoseGrid`, each as the 5 exposures of
  *    `Hdr.ExposureBracket`: the sample quad (`Corners.renderRect`)
  *    warped through the true K and camera extrinsic, lit with a
  *    per-pose scene radiance.
  * Lens distortion is zero, so every render is an exact homography.
  */
object Capture {

  val W = 1024 // capture frame, px (square)
  val Views = 15
  val BoardCols = 9 // inner corners, as Intrinsic/Corners default
  val BoardRows = 11
  val BoardSquareMm = 30.0
  val DetectSlot = 0 // exposure the quad detector runs on
  val TRef = 1.0 / 100 // exposure at which radiance 1 reads full scale
  val Background = 0.03 // background radiance
  val Rectified = 800
  val Crop = 640
  val LumaFactor = 0.9
  val MaxIter = 3
  val Stages = Seq("scan_decode", "chessboard", "quad", "pipeline",
    "rectify", "hdr_merge", "crop_luma")

  /** Ground-truth tolerances: a stage outside its tolerance fails. */
  object Tol {
    val fxRel = 0.01 // computed fx vs true fx (DataPipelineSpec's bar)
    // camera rotation vs truth: 20 integer-vertex quad corners (errors up
    // to ~2.5 px) pin the rotation to ~0.6 degrees at worst
    val rotDeg = 1.0
    val transMm = 16.0 // camera translation vs truth (1% of range)
    val boardPx = 0.25 // chessboard corner RMS, half-scale px (px5 bar)
    // quad corner max error, px: the detector returns integer vertices of
    // the blurred, thresholded contour (measured up to ~2.5 px)
    val quadPx = 4.0
    /** Views the board must be found in. The detector's None is the
      * reference's ret=False branch (camera_calib.py:71): such a view is
      * skipped, as the reference skips it, and counts in found_frac.
      */
    val minViews = 10
    val reprojPx = 2.0 // extrinsic reprojection RMSE, px
    val hdrRel = 0.02 // merged radiance vs scene radiance
  }

  // ---------------------------------------------------------------- truth

  type M3 = Array[Double] // row-major 3x3

  def mul(a: M3, b: M3): M3 = Array.tabulate(9) { k =>
    val i = k / 3; val j = k % 3
    a(3 * i) * b(j) + a(3 * i + 1) * b(3 + j) + a(3 * i + 2) * b(6 + j)
  }
  def rx(d: Double): M3 = { val (c, s) = (math.cos(d), math.sin(d))
    Array(1, 0, 0, 0, c, -s, 0, s, c) }
  def ry(d: Double): M3 = { val (c, s) = (math.cos(d), math.sin(d))
    Array(c, 0, s, 0, 1, 0, -s, 0, c) }
  def rz(d: Double): M3 = { val (c, s) = (math.cos(d), math.sin(d))
    Array(c, -s, 0, s, c, 0, 0, 0, 1) }
  def apply3(m: M3, x: Double, y: Double, z: Double): (Double, Double, Double) =
    (m(0) * x + m(1) * y + m(2) * z, m(3) * x + m(4) * y + m(5) * z,
      m(6) * x + m(7) * y + m(8) * z)

  /** One pose of the programmed grid: compacted index, rotation, offset. */
  final case class Pose(idx: Int, r: M3, gx: Double, gy: Double)

  /** The 3,120 usable poses in compacted order, computed independently of
    * `PoseGrid` (so the pipeline's world-corner stage is checked, not
    * copied): Euler major order, serpentine 5x5 grid walked backwards on
    * odd rotation indices, R = Rx(c) Ry(b) Rz(a), missing poses dropped.
    */
  lazy val allPoses: IndexedSeq[Pose] = {
    val e = PoseGrid.EulerValues.map(_.toDouble.toRadians)
    val missing = PoseGrid.MissingPoses.toSet
    val ps = for (ei <- 0 until 125; k <- 0 until 25
        if !missing((ei * 25 + k).toLong)) yield {
      val k2 = if (ei % 2 == 0) k else 24 - k
      val row = k2 / 5; val pos = k2 % 5
      val gy = ((if (row % 2 == 1) 4 - pos else pos) - 2) * 50.0
      val r = mul(mul(rx(e(ei % 5)), ry(e(ei / 5 % 5))), rz(e(ei / 25)))
      (r, (row - 2) * 50.0, gy)
    }
    ps.zipWithIndex.map { case ((r, gx, gy), i) => Pose(i, r, gx, gy) }
  }

  /** Everything the generator decided from the seed. */
  final case class Truth(k: Array[Double], rc: M3, tc: Array[Double],
      poses: IndexedSeq[Pose], radiance: IndexedSeq[Double],
      boards: IndexedSeq[(M3, Array[Double])]) {
    def fx: Double = k(0)

    /** Plane-to-image homography K [r1 r2 t] of a plane (rotation r,
      * translation t in camera coordinates).
      */
    def planeH(r: M3, t: Array[Double]): M3 = {
      val m = Array(r(0), r(1), t(0), r(3), r(4), t(1), r(6), r(7), t(2))
      mul(Array(k(0), 0, k(2), 0, k(4), k(5), 0, 0, 1), m)
    }

    def project(h: M3, x: Double, y: Double): (Double, Double) = {
      val (u, v, w) = apply3(h, x, y, 1.0)
      (u / w, v / w)
    }

    /** Homography of pose p's sample plane (tool frame, mm). */
    def poseH(p: Pose): M3 = {
      val (tx, ty, tz) = apply3(rc, p.gx, p.gy, 0.0)
      planeH(mul(rc, p.r), Array(tx + tc(0), ty + tc(1), tz + tc(2)))
    }

    /** Image positions of pose p's 4 corners, TL,TR,BR,BL. */
    def quad(p: Pose): Seq[(Double, Double)] =
      PoseGrid.CornerPts.map { case (x, y, _) => project(poseH(p), x, y) }
  }

  def truth(seed: Long, nPoses: Int): Truth = {
    val rnd = new scala.util.Random(seed)
    def u(a: Double, b: Double) = a + (b - a) * rnd.nextDouble()
    val fx = 2800 * (1 + u(-0.03, 0.03))
    val k = Array(fx, 0, W / 2 + u(-20, 20), 0, fx * (1 + u(-0.005, 0.005)),
      W / 2 + u(-20, 20), 0, 0, 1)
    val rc = mul(mul(rz(math.Pi + u(-3, 3).toRadians), rx(u(-2, 2).toRadians)),
      ry(u(-2, 2).toRadians))
    val tc = Array(u(-10, 10), u(-10, 10), 1600 + u(-50, 50))
    val poses = rnd.shuffle(allPoses.indices.toVector).take(nPoses).sorted
      .map(allPoses)
    val radiance = poses.map(_ => u(0.5, 0.95))
    val boards = (0 until Views).map { _ =>
      val r = mul(mul(rz(math.Pi + u(-15, 15).toRadians),
        rx(u(-25, 25).toRadians)), ry(u(-25, 25).toRadians))
      val centre = (4 * BoardSquareMm, 5 * BoardSquareMm)
      val (cx, cy, cz) = apply3(r, centre._1, centre._2, 0)
      val t = Array(u(-30, 30) - cx, u(-30, 30) - cy, u(1400, 1550) - cz)
      (r, t)
    }
    Truth(k, rc, tc, poses, radiance, boards)
  }

  // ------------------------------------------------------------- rendering

  val QuadTex = 400; val QuadMargin = 20; val QuadSide = 360 // 2 px/mm
  val SquarePx = 40

  /** Sample texture index (x,y) → tool plane (mm): the rectangle's outer
    * edges land on the ±90 mm corners, TL at (90, 90).
    */
  val quadTexToPlane: M3 = {
    val s = 180.0 / QuadSide; val o = 90 + s * (QuadMargin - 0.5)
    Array(-s, 0, o, 0, -s, o, 0, 0, 1)
  }

  /** Board texture index → board plane (mm): inner corner (i, j) at
    * (i, j) × the square size.
    */
  val boardTexToPlane: M3 = {
    val s = BoardSquareMm / SquarePx; val o = -s * (2 * SquarePx - 0.5)
    Array(s, 0, o, 0, s, o, 0, 0, 1)
  }

  def renderView(t: Truth, v: Int): Array[Int] = {
    val (tw, th) = ((BoardCols + 3) * SquarePx, (BoardRows + 3) * SquarePx)
    val tex = Corners.renderChessboard(tw, th, SquarePx, SquarePx, SquarePx,
      BoardCols, BoardRows)
    val h = mul(t.planeH(t.boards(v)._1, t.boards(v)._2), boardTexToPlane)
    // warp the inverted board so everything off the board reads white
    Warp.warpPerspective(tex.map(255 - _), tw, th, h.toSeq, W, W)
      .map(255 - _)
  }

  def renderExposure(t: Truth, i: Int, slot: Int): Array[Int] = {
    val tex = Corners.renderRect(QuadTex, QuadTex, QuadMargin, QuadMargin,
      QuadSide, QuadSide)
    val h = mul(t.poseH(t.poses(i)), quadTexToPlane)
    val mask = Warp.warpPerspective(tex, QuadTex, QuadTex, h.toSeq, W, W)
    val gain = 255.0 * Hdr.ExposureBracket(slot) / TRef
    val l = t.radiance(i)
    mask.map { m =>
      val a = m / 255.0
      math.min(255L, math.round(gain * (l * a + Background * (1 - a)))).toInt
    }
  }

  def writePng(gray: Array[Int], f: File): Unit = {
    // equal-channel RGB: the codec's gray path reads it back exactly
    val img = new java.awt.image.BufferedImage(W, W,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, W, W, gray.map(v => (v << 16) | (v << 8) | v), 0, W)
    javax.imageio.ImageIO.write(img, "png", f)
  }

  /** Render the capture for `seed` into `dir` (calib/ and frames/). */
  def generate(dir: File, seed: Long, nPoses: Int): Unit = {
    val t = truth(seed, nPoses)
    val calib = new File(dir, "calib"); calib.mkdirs()
    val frames = new File(dir, "frames"); frames.mkdirs()
    val jobs = (0 until Views).map(v => () =>
      writePng(renderView(t, v), new File(calib, f"view_$v%02d.png"))) ++
      (for (i <- t.poses.indices; s <- Hdr.ExposureBracket.indices)
        yield () => writePng(renderExposure(t, i, s),
          new File(frames, f"pose_${t.poses(i).idx}%04d_$s.png")))
    val pool = Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    try pool.invokeAll(jobs.map(j => new Callable[Unit] { def call(): Unit = j() })
      .asJava).asScala.foreach(_.get())
    finally pool.shutdown()
    // the ground truth rides along for the checks (and for readers)
    java.nio.file.Files.writeString(new File(dir, "truth.json").toPath,
      Json.write(Map("seed" -> seed, "k" -> t.k.toSeq, "rc" -> t.rc.toSeq,
        "tc" -> t.tc.toSeq, "poses" -> t.poses.map(_.idx),
        "radiance" -> t.radiance, "capture_sha256" -> sha256(dir))))
  }

  /** SHA-256 over every capture file, in name order. */
  def sha256(dir: File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Seq("calib", "frames").flatMap(d =>
        Option(new File(dir, d).listFiles()).toSeq.flatten.sortBy(_.getName))
      .foreach { f =>
        md.update(f.getName.getBytes("UTF-8"))
        md.update(java.nio.file.Files.readAllBytes(f.toPath))
      }
    md.digest().map("%02x".format(_)).mkString
  }

  // --------------------------------------------------------------- the run

  def run(spark: SparkSession, trace: Trace, dir: File, state: File)
      : Main.Outcome = {
    import spark.implicits._
    val truthJson = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(dir, "truth.json"))
    val seed = truthJson.path("seed").asLong()
    val t = truth(seed, truthJson.path("poses").size())
    val ops = mutable.ArrayBuffer.empty[Main.Op]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val quality = mutable.LinkedHashMap.empty[String, Double]
    val spanIds = mutable.Map.empty[String, Int]

    /** One stage of the chain: timed, checked, and skipped (as failed)
      * when an earlier stage it needs failed.
      */
    def stage[T](name: String, layer: String)(body: => T)(
        check: T => Boolean): Option[T] = {
      spanIds(name) = trace.spans.size
      val t0 = System.nanoTime()
      val res = try Some(trace.span(name)(body)) catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] stage $name FAILED: $e")
          None
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val ok = res.exists(r => try check(r) catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] stage $name check FAILED: $e")
          false
      })
      if (!ok) System.err.println(s"[perfbench] stage $name missed its check")
      layers(layer) = wall
      ops += Main.Op(name, "capture", wall, ok)
      if (ok) res else None
    }

    def decoded(sub: String, pattern: String) =
      Sources.binaryScan(spark, new File(dir, sub).getPath, Some("*.png"))
        .select(regexp_extract(col("path"), pattern, 1).as("key"),
          col("content"))
        .as[(String, Array[Byte])]
        .map { case (key, bytes) =>
          val (w, h, g) = Codecs.decodeGrayLdr(key, bytes)
          (key, w, h, g)
        }

    val nFrames = t.poses.size * Hdr.ExposureBracket.size
    val scanned = stage("scan_decode", "sources.scan_decode_s") {
      val views = decoded("calib", "view_(\\d+)\\.png$")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val frames = decoded("frames", "pose_(\\d+_\\d)\\.png$")
        .map { case (key, w, h, g) =>
          val Array(p, s) = key.split("_")
          (p.toInt, s.toInt, w, h, g)
        }.toDF("pose", "slot", "w", "h", "gray")
        .persist(StorageLevel.MEMORY_AND_DISK)
      (views, frames, graft.Bench.runFull(views.toDF()),
        graft.Bench.runFull(frames))
    } { case (_, _, nv, nf) => nv == Views && nf == nFrames }

    var nBoards = 0
    var nQuads = 0
    val boards = scanned.flatMap { case (views, _, _, _) =>
      stage("chessboard", "corners.chessboard_s") {
        views.map { case (key, w, h, g) =>
          (key, Corners.chessboardCornersGeneral(g, w, h, BoardCols, BoardRows)
            .map(_.map(c => (c.i, c.j, c.cx, c.cy))))
        }.collect().sortBy(_._1)
      } { found =>
        val errs = found.collect { case (key, Some(cs)) =>
          boardError(t, key.toInt, cs)
        }
        quality("quality.corner_err_px") =
          if (errs.isEmpty) Double.NaN else errs.max
        nBoards = errs.size
        found.length == Views && errs.size >= Tol.minViews &&
          errs.max < Tol.boardPx
      }
    }

    val quads = scanned.flatMap { case (_, frames, _, _) =>
      stage("quad", "corners.quad_s") {
        frames.filter(col("slot") === DetectSlot)
          .select("pose", "w", "h", "gray").as[(Int, Int, Int, Array[Int])]
          .map { case (p, w, h, g) =>
            (p, Corners.cornerPixelExtract(g, w, h).map(q => Seq(
              q.tlX, q.tlY, q.trX, q.trY, q.brX, q.brY, q.blX, q.blY)))
          }.collect().sortBy(_._1)
      } { found =>
        val byIdx = t.poses.zipWithIndex.map { case (p, i) => p.idx -> i }.toMap
        val errs = found.collect { case (p, Some(q)) =>
          val truthQ = t.quad(t.poses(byIdx(p)))
          truthQ.zipWithIndex.map { case ((x, y), c) =>
            math.hypot(q(2 * c) - x, q(2 * c + 1) - y)
          }.max
        }
        quality("quality.quad_corner_err_px") =
          if (errs.isEmpty) Double.NaN else errs.max
        nQuads = errs.size
        found.length == t.poses.size && found.forall(_._2.nonEmpty) &&
          errs.max < Tol.quadPx
      }
    }
    layers("corners.found_frac") =
      (nBoards + nQuads).toDouble / (Views + t.poses.size)

    val pipeline = for (bs <- boards; qs <- quads; r <- stage(
        "pipeline", "pipeline.run_s") {
      val calib = bs.toSeq.flatMap { case (key, cs) =>
        cs.toSeq.flatten.map { case (i, j, u, v) =>
          (s"v$key", j * BoardCols + i, u, v,
            i * BoardSquareMm, j * BoardSquareMm)
        }
      }.toDF("view_id", "corner_idx", "u", "v", "x", "y")
      val pix = qs.toSeq.zipWithIndex.flatMap { case ((p, q), ord) =>
        (0 until 4).map(c => (p.toString, ord.toLong, c.toLong,
          q.get(2 * c).toDouble, q.get(2 * c + 1).toDouble))
      }.toDF("pose_id", "ord", "corner_idx", "u", "v")
      val out = DataPipeline.run(spark, pix, calib, state.getPath, MaxIter)
      val cam = out("camera_matrix").collect()(0)
      val ext = out("extrinsic").collect()(0)
      def arr(r: org.apache.spark.sql.Row, n: String) =
        r.getAs[scala.collection.Seq[Double]](n).toIndexedSeq
      (arr(cam, "k"), arr(ext, "extrinsic"), arr(ext, "stats"),
        out("warp_matrices"))
    } { case (k, ext, stats, warps) =>
      val fxErr = math.abs(k(0) - t.fx) / t.fx
      val rEst = Array(ext(0), ext(1), ext(2), ext(4), ext(5), ext(6),
        ext(8), ext(9), ext(10))
      val rel = mul(transpose(t.rc), rEst)
      val cosA = ((rel(0) + rel(4) + rel(8)) - 1) / 2
      val rotDeg = math.toDegrees(math.acos(cosA.max(-1.0).min(1.0)))
      val transMm = math.sqrt(Seq(3, 7, 11).zip(t.tc)
        .map { case (i, v) => (ext(i) - v) * (ext(i) - v) }.sum)
      quality("quality.fx_rel_err") = fxErr
      quality("quality.rot_err_deg") = rotDeg
      quality("quality.trans_err_mm") = transMm
      quality("reproj_rmse_px") = stats(5)
      warps.count() == t.poses.size && fxErr < Tol.fxRel &&
        rotDeg < Tol.rotDeg && transMm < Tol.transMm && stats(5) < Tol.reprojPx
    }) yield r

    val warped = for ((_, frames, _, _) <- scanned; (_, _, _, warps) <- pipeline;
      w <- stage("rectify", "warp.rectify_s") {
        val hs = warps.select(col("pose_id").cast("int").as("pose"),
          col("h").as("m"))
        val out = frames.join(hs, "pose")
          .select("pose", "slot", "w", "h", "gray", "m")
          .as[(Int, Int, Int, Int, Array[Int], Array[Double])]
          .map { case (p, s, w, h, g, m) =>
            (p, s, Hdr.ExposureBracket(s),
              Warp.warpPerspective(g, w, h, m.toSeq, Rectified, Rectified))
          }.toDF("pose", "slot", "t", "z")
          .persist(StorageLevel.MEMORY_AND_DISK)
        (out, graft.Bench.runFull(out))
      } { case (_, n) => n == nFrames }) yield w
    scanned.foreach { case (v, f, _, _) => v.unpersist(false); f.unpersist(false) }

    val merged = for ((w, _) <- warped; m <- stage("hdr_merge", "hdr.merge_s") {
      val norm = w.select(col("pose"), col("slot"), col("t"),
        transform(col("z"), x => x / 255.0).as("z"))
      val out = Hdr.mergeGroups(norm, "pose", "slot", "t", "z")
        .persist(StorageLevel.MEMORY_AND_DISK)
      (out, graft.Bench.runFull(out))
    } { case (out, n) =>
      // the centre pixel lies inside the sample in every rectified pose
      val c = (Rectified / 2) * Rectified + Rectified / 2
      val centre = out.select(col("pose"), element_at(col("radiance"), c + 1))
        .as[(Int, Double)].collect().toMap
      n == t.poses.size && t.poses.zipWithIndex.forall { case (p, i) =>
        centre.get(p.idx).exists(r =>
          math.abs(r * TRef / t.radiance(i) - 1) < Tol.hdrRel)
      }
    }) yield m
    warped.foreach(_._1.unpersist(false))

    merged.foreach { case (m, _) =>
      stage("crop_luma", "crop.luma_s") {
        val lo = (Rectified - Crop) / 2
        val crop = flatten(transform(sequence(lit(lo), lit(lo + Crop - 1)),
          r => slice(col("radiance"), r * Rectified + (lo + 1), lit(Crop))))
        m.select(col("pose"),
            graft.ops.Geometry.luminanceScale(crop, LumaFactor).as("luma"))
          .select(col("pose"), size(col("luma")).as("n"),
            aggregate(col("luma"), lit(0.0), (a, x) => a + x).as("sum"))
          .as[(Int, Int, Double)].collect()
      } { rows =>
        val byIdx = t.poses.zipWithIndex.map { case (p, i) => p.idx -> i }.toMap
        val errs = rows.map { case (p, n, s) =>
          val mean = s / n / LumaFactor * TRef
          math.abs(mean / t.radiance(byIdx(p)) - 1)
        }
        quality("quality.hdr_rel_err") = if (errs.isEmpty) Double.NaN else errs.max
        rows.length == t.poses.size && rows.forall(_._2 == Crop * Crop) &&
          errs.max < Tol.hdrRel
      }
      m.unpersist(false)
    }

    // a stage skipped because one it needs failed counts as failed
    Stages.filterNot(n => ops.exists(_.name == n))
      .foreach(n => ops += Main.Op(n, "capture", 0.0, ok = false))

    if (trace.enabled) spanIds.get("pipeline").foreach { root =>
      val mods = Layers.byModule(trace, root, {
        case "Intrinsic.scala" => "intrinsic"
        case "Extrinsic.scala" => "extrinsic"
        // Runner.stage materializes the pose-grid, world-corner and J4
        // match stages
        case "PoseGrid.scala" | "Runner.scala" => "posegrid"
        case "Sinks.scala" | "DataPipeline.scala" => "sinks"
        case _ => "other"
      })
      Seq("intrinsic", "posegrid", "extrinsic", "sinks").foreach(m =>
        layers(s"pipeline.${m}_s") = mods.get(m).map(_._1).getOrElse(0.0))
      layers("extrinsic.lm_jobs") =
        mods.get("extrinsic").map(_._2.toDouble).getOrElse(0.0)
      spanIds.get("hdr_merge").foreach(id =>
        layers("hdr.spill_bytes") = Layers.spill(trace, id))
    }
    val extra = Map(
      "capture_sha256" -> truthJson.path("capture_sha256").asText(),
      "poses" -> t.poses.size,
      "quality" -> quality.toMap,
      "tolerances" -> Map("fx_rel" -> Tol.fxRel, "rot_deg" -> Tol.rotDeg,
        "trans_mm" -> Tol.transMm, "board_px" -> Tol.boardPx,
        "quad_px" -> Tol.quadPx, "reproj_px" -> Tol.reprojPx,
        "hdr_rel" -> Tol.hdrRel))
    Main.Outcome(ops.toSeq, extra, (layers ++ quality).toMap)
  }

  def transpose(m: M3): M3 = Array(m(0), m(3), m(6), m(1), m(4), m(7),
    m(2), m(5), m(8))

  /** RMS distance (half-scale px, the detector's scale) of one view's
    * detected inner corners from their true projections; a 180° board is
    * indistinguishable from the upright one, so the better labelling
    * counts.
    */
  def boardError(t: Truth, v: Int,
      cs: Seq[(Int, Int, Double, Double)]): Double = {
    val h = t.planeH(t.boards(v)._1, t.boards(v)._2)
    def rms(flip: Boolean) = math.sqrt(cs.map { case (i0, j0, cx, cy) =>
      val (i, j) = if (flip) (BoardCols - 1 - i0, BoardRows - 1 - j0) else (i0, j0)
      val (u, w) = t.project(h, i * BoardSquareMm, j * BoardSquareMm)
      val (du, dv) = (cx - (u - 0.5) / 2, cy - (w - 0.5) / 2)
      du * du + dv * dv
    }.sum / cs.size)
    math.min(rms(false), rms(true))
  }
}
