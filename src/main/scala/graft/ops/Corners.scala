package graft.ops

/** Pixel-level quad-corner detection — the reference's
  * `corner_pixel_extract` (pixel_processing.py:6-64) re-expressed as a
  * dependency-free Scala kernel over a grayscale raster:
  *
  *   gray → 5×5 Gaussian blur → threshold(50) → 5×5 morphological close
  *        → external contours → approxPolyDP(ε = 0.02·perimeter)
  *        → keep quadrilaterals → order corners TL/TR/BR/BL.
  *
  * Fidelity notes (documented divergences from the OpenCV calls the
  * reference makes — each is behavior OpenCV itself leaves unspecified or
  * that cannot change the detected corner set):
  *  - GaussianBlur((5,5), σ=0): OpenCV resolves σ=0 over a ksize≤7 kernel
  *    to the fixed binomial tap [1,4,6,4,1]/16 (getGaussianKernel's
  *    small_gaussian_tab); we apply it separably with a single final
  *    rounding, border BORDER_REFLECT_101 (OpenCV's default). Exact .5
  *    ties round half-up here vs cvRound's half-to-even — a ±1 gray-level
  *    difference only possible on an exact tie, which the 0/255 synthetic
  *    and the 50-threshold make immaterial.
  *  - findContours(RETR_EXTERNAL, CHAIN_APPROX_SIMPLE): same contour SET
  *    (one outer border per 8-connected component, straight runs
  *    compressed to endpoints) via component labeling + Moore tracing;
  *    starting vertex / winding may differ from Suzuki-Abe's. Downstream
  *    is invariant: arcLength is cyclic, approxPolyDP is geometric, and
  *    the final corner ordering re-sorts by x+y / x−y.
  *  - approxPolyDP(closed): Douglas-Peucker with the standard
  *    farthest-point-pair split for closed curves; OpenCV's heuristic for
  *    the initial split differs but both return the quad's 4 extreme
  *    vertices once ε (≈24 px at the reference's peri>1000 gate) exceeds
  *    the pixel-chamfer scale.
  *
  * Faithfully kept reference behaviors: the peri>1000 gate BEFORE
  * approximation, the len==4 quad filter, the accumulation of `points`
  * ACROSS matching contours (pixel_processing.py:13,40 never resets the
  * list — with several quads in frame the final sort mixes them), and the
  * Python-sorted tie semantics (stable sort: [0] = first minimal in
  * traversal order, [-1] = LAST maximal).
  */
object Corners {

  /** One detected quad corner set, ordered TL, TR, BR, BL
    * (pixel_processing.py:57-63: min x+y, max x−y, max x+y, min x−y).
    */
  final case class Quad(
      tlX: Int, tlY: Int, trX: Int, trY: Int,
      brX: Int, brY: Int, blX: Int, blY: Int)

  /** 5×5 binomial blur ([1,4,6,4,1]/16 per axis), BORDER_REFLECT_101,
    * one rounding at the end: out = (Σ wᵢwⱼ·I + 128) >> 8.
    * Input/output: row-major 0..255 ints.
    */
  def gaussianBlur5(src: Array[Int], w: Int, h: Int): Array[Int] = {
    val wts = Array(1, 4, 6, 4, 1)
    @inline def refl(i: Int, n: Int): Int =
      if (i < 0) -i else if (i >= n) 2 * n - 2 - i else i
    // horizontal pass, unnormalized (fits: 255*16*16 < 2^31)
    val tmp = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val row = y * w
      var x = 0
      while (x < w) {
        var acc = 0
        var k = -2
        while (k <= 2) { acc += wts(k + 2) * src(row + refl(x + k, w)); k += 1 }
        tmp(row + x) = acc
        x += 1
      }
      y += 1
    }
    val dst = new Array[Int](w * h)
    y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var acc = 0
        var k = -2
        while (k <= 2) { acc += wts(k + 2) * tmp(refl(y + k, h) * w + x); k += 1 }
        dst(y * w + x) = (acc + 128) >> 8
        x += 1
      }
      y += 1
    }
    dst
  }

  /** THRESH_BINARY at 50: strictly-greater, as cv2.threshold. */
  def threshold(src: Array[Int], thresh: Int): Array[Boolean] =
    src.map(_ > thresh)

  /** Morphological close with the 5×5 all-ones structuring element:
    * dilate (any on in window; off-padding) then erode (all on in window;
    * on-padding) — OpenCV's border convention, so the frame edge neither
    * grows nor eats the shape.
    */
  def close5(src: Array[Boolean], w: Int, h: Int): Array[Boolean] = {
    // separable: a 5×5 rect max/min = 1×5 then 5×1
    def pass(in: Array[Boolean], dilate: Boolean): Array[Boolean] = {
      val mid = new Array[Boolean](w * h)
      var y = 0
      while (y < h) {
        val row = y * w
        var x = 0
        while (x < w) {
          var v = !dilate
          var k = math.max(0, x - 2)
          val hi = math.min(w - 1, x + 2)
          while (k <= hi) {
            if (dilate) v ||= in(row + k) else v &&= in(row + k)
            k += 1
          }
          mid(row + x) = v
          x += 1
        }
        y += 1
      }
      val out = new Array[Boolean](w * h)
      y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          var v = !dilate
          var k = math.max(0, y - 2)
          val hi = math.min(h - 1, y + 2)
          while (k <= hi) {
            if (dilate) v ||= mid(k * w + x) else v &&= mid(k * w + x)
            k += 1
          }
          out(y * w + x) = v
          x += 1
        }
        y += 1
      }
      out
    }
    pass(pass(src, dilate = true), dilate = false)
  }

  // Moore neighborhood, visually clockwise in image coords (y down):
  // E, SE, S, SW, W, NW, N, NE
  private val DX = Array(1, 1, 0, -1, -1, -1, 0, 1)
  private val DY = Array(0, 1, 1, 1, 0, -1, -1, -1)

  /** Outer border of each 8-connected on-component, straight 8-direction
    * runs compressed to their endpoints (CHAIN_APPROX_SIMPLE). Components
    * are found by labeling, borders by Moore tracing from each
    * component's topmost-leftmost pixel (entered from the W, which is
    * provably off for that pixel). Components are emitted in raster order
    * of their seed — the same outer-contour SET Suzuki-Abe yields for
    * RETR_EXTERNAL on non-nested scenes. (Divergence: an island component
    * inside another component's hole is emitted here but pruned by
    * RETR_EXTERNAL's hierarchy walk; the reference's scenes — one bright
    * sample on a dark ground — have no nesting.)
    */
  def externalContours(bin: Array[Boolean], w: Int, h: Int): Seq[Array[(Int, Int)]] = {
    val label = new Array[Int](w * h) // 0 = unlabeled/off
    var next = 0
    val seeds = Vector.newBuilder[(Int, Int)]
    val stack = new java.util.ArrayDeque[Int]()
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = y * w + x
        if (bin(i) && label(i) == 0) {
          next += 1
          seeds += ((x, y))
          label(i) = next
          stack.push(i)
          while (!stack.isEmpty) {
            val p = stack.pop()
            val px = p % w; val py = p / w
            var d = 0
            while (d < 8) {
              val nx = px + DX(d); val ny = py + DY(d)
              if (nx >= 0 && nx < w && ny >= 0 && ny < h) {
                val ni = ny * w + nx
                if (bin(ni) && label(ni) == 0) { label(ni) = next; stack.push(ni) }
              }
              d += 1
            }
          }
        }
        x += 1
      }
      y += 1
    }
    seeds.result().map { case (sx, sy) =>
      trace(bin, w, h, sx, sy)
    }
  }

  /** Moore-neighbor tracing with Jacob's stopping criterion (stop on
    * re-entering the start pixel from the start backtrack cell), then
    * CHAIN_APPROX_SIMPLE compression (drop interior points of straight
    * 8-direction runs, circularly).
    */
  private def trace(bin: Array[Boolean], w: Int, h: Int,
      sx: Int, sy: Int): Array[(Int, Int)] = {
    @inline def on(x: Int, y: Int): Boolean =
      x >= 0 && x < w && y >= 0 && y < h && bin(y * w + x)
    val pts = Array.newBuilder[(Int, Int)]
    // backtrack cell: the off pixel we entered the current pixel from.
    // The seed is the topmost-leftmost pixel of its component, so its W
    // neighbor is off (an on W neighbor would be same-component,
    // same-row, further left).
    var cx = sx; var cy = sy
    var bx = sx - 1; var by = sy
    pts += ((sx, sy))
    var done = false
    var firstMoveDir = -1
    // safety bound: Moore tracing visits each on-pixel at most 4 times,
    // so hitting this means the tracer itself is broken — fail loudly
    // below rather than hand a silently truncated contour to approxPolyDP
    val limit = 4 * w * h + 8
    var steps = 0
    while (!done && steps < limit) {
      // direction from c to the backtrack cell
      var d0 = 0
      while (!(cx + DX(d0) == bx && cy + DY(d0) == by)) d0 += 1
      // scan clockwise from just past the backtrack; remember last off cell
      var lastOffX = bx; var lastOffY = by
      var found = -1
      var t = 1
      while (t <= 8 && found < 0) {
        val d = (d0 + t) % 8
        val nx = cx + DX(d); val ny = cy + DY(d)
        if (on(nx, ny)) found = d
        else { lastOffX = nx; lastOffY = ny; t += 1 }
      }
      if (found < 0) done = true // single-pixel component
      // periodicity stop: standing on the seed about to repeat the very
      // first move — the emitted cycle is complete (a contour may pass
      // through the seed mid-cycle with a DIFFERENT next move: pinched
      // shapes continue correctly)
      else if (cx == sx && cy == sy && firstMoveDir >= 0 &&
          found == firstMoveDir) done = true
      else {
        if (firstMoveDir < 0) firstMoveDir = found
        cx += DX(found); cy += DY(found)
        bx = lastOffX; by = lastOffY
        pts += ((cx, cy))
        steps += 1
      }
    }
    if (!done) sys.error(
      s"Moore trace did not close after $steps steps on a ${w}x$h raster " +
        s"(seed $sx,$sy) — tracer invariant violated")
    // the stop fires standing on the seed, which the closing step just
    // re-emitted — drop that one duplicate (mid-cycle seed passes of a
    // pinched shape stay)
    val raw0 = pts.result()
    val raw =
      if (raw0.length > 1 && raw0.last == raw0.head) raw0.dropRight(1)
      else raw0
    if (raw.length <= 2) raw
    else {
      @inline def dirOf(a: (Int, Int), b: (Int, Int)): Int = {
        val dx = Integer.signum(b._1 - a._1); val dy = Integer.signum(b._2 - a._2)
        var d = 0
        while (d < 8 && !(DX(d) == dx && DY(d) == dy)) d += 1
        d
      }
      val n = raw.length
      val keep = Array.newBuilder[(Int, Int)]
      var i = 0
      while (i < n) {
        val prev = raw((i + n - 1) % n)
        val next = raw((i + 1) % n)
        if (dirOf(prev, raw(i)) != dirOf(raw(i), next)) keep += raw(i)
        i += 1
      }
      val k = keep.result()
      if (k.isEmpty) Array(raw(0)) else k
    }
  }

  /** Closed-curve perimeter: Σ‖pᵢ₊₁−pᵢ‖ including the closing segment
    * (cv2.arcLength(closed=True)).
    */
  def arcLength(pts: Array[(Int, Int)]): Double = {
    if (pts.length < 2) return 0.0
    var s = 0.0
    var i = 0
    val n = pts.length
    while (i < n) {
      val a = pts(i); val b = pts((i + 1) % n)
      val dx = (b._1 - a._1).toDouble; val dy = (b._2 - a._2).toDouble
      s += math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    s
  }

  /** Douglas-Peucker on a CLOSED polyline: split at the farthest-point
    * pair (p = argmax dist from pts(0), q = argmax dist from p; first
    * index wins ties), DP each arc, concatenate.
    */
  def approxPolyDP(pts: Array[(Int, Int)], eps: Double): Array[(Int, Int)] = {
    val n = pts.length
    if (n <= 2) return pts.clone()
    @inline def d2(a: (Int, Int), b: (Int, Int)): Double = {
      val dx = (b._1 - a._1).toDouble; val dy = (b._2 - a._2).toDouble
      dx * dx + dy * dy
    }
    def farthestFrom(i0: Int): Int = {
      var best = -1; var bestD = -1.0
      var i = 0
      while (i < n) {
        val d = d2(pts(i0), pts(i))
        if (d > bestD) { bestD = d; best = i }
        i += 1
      }
      best
    }
    val p = farthestFrom(0)
    val q = farthestFrom(p)
    // perpendicular distance² of x to segment a-b (distance to the LINE —
    // DP's recursive step always has interior points "between" the chord
    // endpoints on these pixel arcs, and cv2 uses line distance too)
    def lineD2(a: (Int, Int), b: (Int, Int), x: (Int, Int)): Double = {
      val abx = (b._1 - a._1).toDouble; val aby = (b._2 - a._2).toDouble
      val len2 = abx * abx + aby * aby
      if (len2 == 0) d2(a, x)
      else {
        val cross = abx * (x._2 - a._2) - aby * (x._1 - a._1)
        cross * cross / len2
      }
    }
    val eps2 = eps * eps
    val out = Array.newBuilder[(Int, Int)]
    // DP over the cyclic index arc (i..j going forward mod n), emitting
    // pts(i) and interior kept points, NOT pts(j) (the caller chains arcs)
    def dp(i: Int, j: Int): Unit = {
      out += pts(i)
      def rec(lo: Int, hi: Int): Unit = { // cyclic arc lo..hi, exclusive interior
        val span = (hi - lo + n) % n
        if (span < 2) return
        var best = -1; var bestD = -1.0
        var s = 1
        while (s < span) {
          val idx = (lo + s) % n
          val d = lineD2(pts(lo), pts(hi), pts(idx))
          if (d > bestD) { bestD = d; best = idx }
          s += 1
        }
        if (bestD > eps2) {
          rec(lo, best)
          out += pts(best)
          rec(best, hi)
        }
      }
      rec(i, j)
    }
    dp(p, q)
    dp(q, p)
    out.result()
  }

  /** The full reference pipeline over a grayscale raster. Returns the
    * TL/TR/BR/BL corner set of the LAST quadrilateral contour, computed
    * over points accumulated across ALL quadrilateral contours (the
    * reference's exact list semantics) — None when no contour passes the
    * peri>1000 ∧ len==4 gates.
    */
  def cornerPixelExtract(gray: Array[Int], w: Int, h: Int): Option[Quad] = {
    val bin = close5(threshold(gaussianBlur5(gray, w, h), 50), w, h)
    val points = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var result: Option[Quad] = None
    externalContours(bin, w, h).foreach { contour =>
      val peri = arcLength(contour)
      if (peri > 1000) {
        val approx = approxPolyDP(contour, 0.02 * peri)
        if (approx.length == 4) {
          points ++= approx
          // Python-sorted ties are stable: [0] = first min, [-1] = last max
          def firstMinBy(f: ((Int, Int)) => Int) = points.minBy(f)
          def lastMaxBy(f: ((Int, Int)) => Int) = {
            var best = points.head
            points.foreach(p => if (f(p) >= f(best)) best = p)
            best
          }
          val tl = firstMinBy(p => p._1 + p._2)
          val br = lastMaxBy(p => p._1 + p._2)
          val tr = lastMaxBy(p => p._1 - p._2)
          val bl = firstMinBy(p => p._1 - p._2)
          result = Some(Quad(tl._1, tl._2, tr._1, tr._2,
            br._1, br._2, bl._1, bl._2))
        }
      }
    }
    result
  }

  /** Deterministic test/query raster: a filled axis-aligned 255-rectangle
    * [x0,x0+rw)×[y0,y0+rh) on a 0 background. Fully synthetic — the
    * repo's testdata carries no image payloads, so px1 renders its own
    * frames from table keys (same spirit as the reference's chessboard
    * fixtures).
    */
  def renderRect(w: Int, h: Int, x0: Int, y0: Int, rw: Int, rh: Int): Array[Int] = {
    val img = new Array[Int](w * h)
    var y = y0
    while (y < y0 + rh) {
      var x = x0
      while (x < x0 + rw) { img(y * w + x) = 255; x += 1 }
      y += 1
    }
    img
  }

  /** Rec.601 luma (the cv2 BGR2GRAY weights) from packed ARGB. */
  def argbToGray(argb: Array[Int]): Array[Int] =
    argb.map { p =>
      val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
      (299 * r + 587 * g + 114 * b + 500) / 1000
    }

  // ---------------------------------------------------------------------
  // Chessboard inner-corner detection — camera_calib.py:61-77's
  // cv2.resize(0.5) + findChessboardCorners(gray, (9,11)), re-expressed
  // with the same structural pipeline OpenCV uses internally: threshold →
  // erode (to split black squares that touch only diagonally) → one quad
  // per square → inner corners = clustered diagonal corner pairs → grid
  // assembly. Subpixel refinement (cornerSubPix) is unnecessary on the
  // engine's synthetic axis-aligned renders: the midpoint of the two
  // eroded-quad corners IS the exact saddle point. Real photographed
  // boards would need the homography-aware grid ordering cv2 applies;
  // the synthetic surface assembles rows by y, columns by x.
  // ---------------------------------------------------------------------

  /** 2×2 box mean (round half up) — the reference's 0.5 downscale
    * (camera_calib.py:61-63; exact for block-aligned synthetic boards,
    * where every 2×2 block is uniform). Odd trailing row/col dropped,
    * as cv2.resize with int(dim*0.5) does.
    */
  def halfScale(gray: Array[Int], w: Int, h: Int): (Array[Int], Int, Int) = {
    val w2 = w / 2; val h2 = h / 2
    val out = new Array[Int](w2 * h2)
    var y = 0
    while (y < h2) {
      var x = 0
      while (x < w2) {
        val i = (2 * y) * w + 2 * x
        out(y * w2 + x) = (gray(i) + gray(i + 1) + gray(i + w) + gray(i + w + 1) + 2) / 4
        x += 1
      }
      y += 1
    }
    (out, w2, h2)
  }

  /** 3×3 erosion (all-on in window; on-padding at the frame border). */
  def erode3(src: Array[Boolean], w: Int, h: Int): Array[Boolean] = {
    val out = new Array[Boolean](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var v = true
        var dy = math.max(0, y - 1)
        val yh = math.min(h - 1, y + 1)
        while (v && dy <= yh) {
          var dx = math.max(0, x - 1)
          val xh = math.min(w - 1, x + 1)
          while (v && dx <= xh) { v = src(dy * w + dx); dx += 1 }
          dy += 1
        }
        out(y * w + x) = v
        x += 1
      }
      y += 1
    }
    out
  }

  /** One detected inner corner: grid index (i along x, j along y — the
    * mgrid convention of camera_calib.py:50) and pixel position in the
    * HALF-scale frame (the reference detects and calibrates in resized
    * coordinates, never scaling back).
    */
  final case class BoardCorner(i: Int, j: Int, cx: Double, cy: Double)

  /** Inner-corner candidates of both detectors: greedily pair each quad
    * corner with the first later, still unpaired corner of a DIFFERENT
    * quad within Chebyshev distance `tol`, and emit the pair's midpoint.
    */
  private def innerCorners(quads: Seq[Array[(Int, Int)]], tol: Int)
      : IndexedSeq[(Double, Double)] = {
    // candidate corners tagged by their source quad
    val pts = quads.zipWithIndex.flatMap { case (q, qi) => q.map(p => (p, qi)) }
      .toIndexedSeq
    val used = scala.collection.mutable.Set.empty[Int]
    val corners = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    var a = 0
    while (a < pts.length) {
      if (!used(a)) {
        val ((ax, ay), aq) = pts(a)
        var b = a + 1
        var hit = -1
        while (hit < 0 && b < pts.length) {
          val ((bx, by), bq) = pts(b)
          if (!used(b) && bq != aq &&
              math.max(math.abs(ax - bx), math.abs(ay - by)) <= tol) hit = b
          b += 1
        }
        if (hit >= 0) {
          val ((bx, by), _) = pts(hit)
          used += a; used += hit
          corners += (((ax + bx) / 2.0, (ay + by) / 2.0))
        }
      }
      a += 1
    }
    corners.toIndexedSeq
  }

  /** Full detector over a grayscale raster. Returns the cols×rows inner
    * corners in grid order, or None when the pattern is not found —
    * the ret=False branch of camera_calib.py:71.
    */
  def chessboardCorners(gray: Array[Int], w: Int, h: Int,
      cols: Int = 9, rows: Int = 11): Option[Seq[BoardCorner]] = {
    val (g2, w2, h2) = halfScale(gray, w, h)
    // black mask (squares are dark on a light ground), then erode so
    // diagonally-touching squares become separate 8-connected components
    val black = g2.map(_ < 128)
    val eroded = erode3(black, w2, h2)
    val quads = externalContours(eroded, w2, h2).filter(_.length == 4)
    // inner corners within Chebyshev 4 (erode pulls each square in by 1,
    // so the diagonal pair sits 3 px apart per axis; same-row squares are
    // a full square away)
    val corners = innerCorners(quads, 4)
    if (corners.size != cols * rows) return None
    // grid assembly (axis-aligned synthetic): rows by y, columns by x
    val byRow = corners.sortBy(_._2).grouped(cols).toSeq
    if (byRow.exists(_.size != cols)) return None
    Some(byRow.zipWithIndex.flatMap { case (row, j) =>
      row.sortBy(_._1).zipWithIndex.map { case ((cx, cy), i) =>
        BoardCorner(i, j, cx, cy)
      }
    })
  }

  // ---------------------------------------------------------------------
  // General-pose chessboard detection — the photographed-board form of
  // chessboardCorners (camera_calib.py:70-77: findChessboardCorners'
  // internal homography-aware ordering + cornerSubPix refinement).
  // Axis-aligned sort-by-y-then-x ordering breaks the moment the board
  // tilts; here the grid is assembled by fitting a homography from the
  // lattice's four extreme corners and assigning every candidate to the
  // lattice node it lands on in board space, then each corner is refined
  // to the gray-surface saddle point by the gradient-orthogonality
  // iteration (for every q near a corner p, the image gradient at q is
  // perpendicular to q−p; cornerSubPix's normal equations).
  // ---------------------------------------------------------------------

  /** Bilinear sample of a raster at a real position (border clamped). */
  @inline private def bilin(g: Array[Int], w: Int, h: Int,
      x: Double, y: Double): Double = {
    val x0 = math.floor(x).toInt; val y0 = math.floor(y).toInt
    val fx = x - x0; val fy = y - y0
    @inline def at(xi: Int, yi: Int): Double = {
      val cx = math.max(0, math.min(w - 1, xi))
      val cy = math.max(0, math.min(h - 1, yi))
      g(cy * w + cx).toDouble
    }
    at(x0, y0) * (1 - fx) * (1 - fy) + at(x0 + 1, y0) * fx * (1 - fy) +
      at(x0, y0 + 1) * (1 - fx) * fy + at(x0 + 1, y0 + 1) * fx * fy
  }

  /** Saddle-point subpixel refinement (cornerSubPix's iteration): solve
    * Σ w·∇I∇Iᵀ·(q − p) = 0 over a (2r+1)² window of bilinear samples
    * around the current estimate, Gaussian-weighted (σ = r/2), until the
    * update is below 1e-4 px. Returns the input unchanged when the
    * normal matrix is near-singular (flat window — no corner).
    */
  def saddleRefine(g: Array[Int], w: Int, h: Int,
      px: Double, py: Double, r: Int = 5, iters: Int = 20): (Double, Double) = {
    var cx = px; var cy = py
    val sigma2 = (r / 2.0) * (r / 2.0)
    var it = 0
    var moved = true
    while (it < iters && moved) {
      var a = 0.0; var b = 0.0; var c = 0.0 // G = [a b; b c]
      var bx = 0.0; var by = 0.0
      var dy = -r
      while (dy <= r) {
        var dx = -r
        while (dx <= r) {
          val qx = cx + dx; val qy = cy + dy
          val gx = (bilin(g, w, h, qx + 1, qy) - bilin(g, w, h, qx - 1, qy)) / 2
          val gy = (bilin(g, w, h, qx, qy + 1) - bilin(g, w, h, qx, qy - 1)) / 2
          val wt = math.exp(-(dx * dx + dy * dy) / (2 * sigma2))
          a += wt * gx * gx; b += wt * gx * gy; c += wt * gy * gy
          bx += wt * (gx * gx * qx + gx * gy * qy)
          by += wt * (gx * gy * qx + gy * gy * qy)
          dx += 1
        }
        dy += 1
      }
      val det = a * c - b * b
      if (math.abs(det) < 1e-9) { moved = false }
      else {
        val nx = (c * bx - b * by) / det
        val ny = (a * by - b * bx) / det
        moved = math.max(math.abs(nx - cx), math.abs(ny - cy)) > 1e-4
        cx = nx; cy = ny
      }
      it += 1
    }
    (cx, cy)
  }

  /** Andrew monotone-chain convex hull (counter-clockwise in image
    * coords, no collinear points kept).
    */
  private def convexHull(pts: Seq[(Double, Double)]): IndexedSeq[(Double, Double)] = {
    val s = pts.distinct.sortBy(p => (p._1, p._2)).toIndexedSeq
    if (s.length <= 2) return s
    @inline def cross(o: (Double, Double), a: (Double, Double),
        b: (Double, Double)): Double =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    def half(seq: IndexedSeq[(Double, Double)]) = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
      seq.foreach { p =>
        while (out.length >= 2 && cross(out(out.length - 2), out.last, p) <= 0)
          out.remove(out.length - 1)
        out += p
      }
      out.dropRight(1)
    }
    (half(s) ++ half(s.reverse)).toIndexedSeq
  }

  /** The 4 hull vertices spanning the maximum-area quadrilateral — under
    * any homography the lattice boundary stays 4 straight lines, so these
    * are the grid's corner nodes (mid-edge hull points are near-collinear
    * with them and lose on area). O(h⁴) over the hull — fine at h ≲ 40.
    */
  private def extremeQuad(hull: IndexedSeq[(Double, Double)])
      : IndexedSeq[(Double, Double)] = {
    val n = hull.length
    require(n >= 4, s"hull has only $n vertices")
    @inline def area2(a: (Double, Double), b: (Double, Double),
        c: (Double, Double)): Double =
      math.abs((b._1 - a._1) * (c._2 - a._2) - (b._2 - a._2) * (c._1 - a._1))
    var best = (0, 1, 2, 3); var bestA = -1.0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        var k = j + 1
        while (k < n) {
          var l = k + 1
          while (l < n) {
            val ar = area2(hull(i), hull(j), hull(k)) +
              area2(hull(i), hull(k), hull(l))
            if (ar > bestA) { bestA = ar; best = (i, j, k, l) }
            l += 1
          }
          k += 1
        }
        j += 1
      }
      i += 1
    }
    IndexedSeq(hull(best._1), hull(best._2), hull(best._3), hull(best._4))
  }

  /** Homography-aware grid assembly: fit H from the four lattice-corner
    * nodes to the four extreme candidates, pull every candidate back to
    * board space through H⁻¹, and accept the first cyclic assignment
    * (4 starts × 2 directions, fixed enumeration order — a chessboard's
    * 180° symmetry makes one of two orientations a deterministic pick,
    * exactly as the reference pipeline keys its boards) under which the
    * candidates biject onto the cols×rows lattice with every residual
    * under `tol` of a node.
    */
  private def orderByHomography(cands: Seq[(Double, Double)],
      cols: Int, rows: Int, tol: Double = 0.3): Option[Seq[BoardCorner]] = {
    val hull = convexHull(cands)
    if (hull.length < 4) return None
    val ext = extremeQuad(hull)
    val gridCorners = Seq((0.0, 0.0), (cols - 1.0, 0.0),
      (cols - 1.0, rows - 1.0), (0.0, rows - 1.0))
    // Handedness gate: a mirror in board space is affine, so EVERY
    // mirrored corner assignment also bijects through its homography —
    // but a physical board seen by a camera is never mirror-imaged.
    // Keep only assignments whose image-quad winding (shoelace sign)
    // matches the grid corners' winding; that leaves the identity and
    // the board's genuine 180° symmetry.
    @inline def shoelace(q: Seq[(Double, Double)]): Double =
      q.indices.map { t =>
        val (x1, y1) = q(t); val (x2, y2) = q((t + 1) % q.length)
        x1 * y2 - x2 * y1
      }.sum
    val gridSign = math.signum(shoelace(gridCorners))
    val assignments = (for {
      start <- 0 until 4
      dir <- Seq(1, -1)
    } yield (0 until 4).map(t => ext((start + dir * t + 8) % 4)))
      .filter(q => math.signum(shoelace(q.toSeq)) == gridSign)
    assignments.iterator.flatMap { imgC =>
      // invert3 guarded like the solver: a degenerate candidate quad can
      // pass the per-pivot check yet yield |det H| < 1e-12, and the
      // Option contract is "skip this assignment", not "throw"
      val inv = try {
        val hm = Geometry.solveHomography(gridCorners, imgC.map(p => (p._1, p._2)))
        Warp.invert3(hm.toIndexedSeq)
      } catch { case _: IllegalArgumentException => null }
      if (inv == null) None
      else {
        val slots = Array.fill(rows * cols)(-1)
        var ok = true
        var ci = 0
        while (ok && ci < cands.length) {
          val (x, y) = cands(ci)
          val den = inv(6) * x + inv(7) * y + inv(8)
          if (math.abs(den) < 1e-12) ok = false
          else {
            val u = (inv(0) * x + inv(1) * y + inv(2)) / den
            val v = (inv(3) * x + inv(4) * y + inv(5)) / den
            val iu = math.rint(u).toInt; val iv = math.rint(v).toInt
            if (iu < 0 || iu >= cols || iv < 0 || iv >= rows ||
                math.max(math.abs(u - iu), math.abs(v - iv)) > tol ||
                slots(iv * cols + iu) >= 0) ok = false
            else slots(iv * cols + iu) = ci
          }
          ci += 1
        }
        if (ok && slots.forall(_ >= 0))
          Some((for (j <- 0 until rows; i <- 0 until cols) yield {
            val (cx, cy) = cands(slots(j * cols + i))
            BoardCorner(i, j, cx, cy)
          }).toSeq)
        else None
      }
    }.nextOption()
  }

  /** General-pose detector: like chessboardCorners but valid for
    * rotated / perspective-distorted boards. Squares are recovered as
    * approxPolyDP quads of the eroded-black contours (a warped square's
    * compressed trace has many vertices; ε = 0.02·peri collapses it back
    * to 4), inner-corner candidates are diagonal corner pairs of
    * different quads (Chebyshev ≤ 5 — erosion pulls each square in ~1 px,
    * DP adds ≲2 px under perspective), the grid is assembled through the
    * lattice homography, and each corner is refined to the gray saddle
    * point. Positions are in HALF-scale coordinates like
    * chessboardCorners (the reference calibrates in resized coords).
    */
  def chessboardCornersGeneral(gray: Array[Int], w: Int, h: Int,
      cols: Int = 9, rows: Int = 11): Option[Seq[BoardCorner]] = {
    val (g2, w2, h2) = halfScale(gray, w, h)
    val black = g2.map(_ < 128)
    val eroded = erode3(black, w2, h2)
    val quads = externalContours(eroded, w2, h2).flatMap { c =>
      if (c.length < 4) None
      else {
        val ap = approxPolyDP(c, 0.02 * arcLength(c))
        if (ap.length == 4) Some(ap) else None
      }
    }
    val corners = innerCorners(quads, 5)
    if (corners.size != cols * rows) return None
    orderByHomography(corners, cols, rows).map(_.map { bc =>
      val (rx, ry) = saddleRefine(g2, w2, h2, bc.cx, bc.cy)
      BoardCorner(bc.i, bc.j, rx, ry)
    })
  }

  /** Synthetic chessboard render: (cols+1)×(rows+1) alternating squares
    * of side `sq` px, black where (si+sj) is even, origin (x0,y0), white
    * ground — the engine's stand-in for the reference's photographed
    * calibration boards.
    */
  def renderChessboard(w: Int, h: Int, x0: Int, y0: Int, sq: Int,
      cols: Int = 9, rows: Int = 11): Array[Int] = {
    val img = Array.fill(w * h)(255)
    var sj = 0
    while (sj <= rows) {
      var si = 0
      while (si <= cols) {
        if ((si + sj) % 2 == 0) {
          var y = y0 + sj * sq
          val yEnd = y + sq
          while (y < yEnd) {
            var x = x0 + si * sq
            val xEnd = x + sq
            while (x < xEnd) { img(y * w + x) = 0; x += 1 }
            y += 1
          }
        }
        si += 1
      }
      sj += 1
    }
    img
  }
}
