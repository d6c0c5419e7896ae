package graft.pipeline

import graft.ops.Geometry

/** The one Levenberg-Marquardt loop behind both calibration fits, each
  * on its one collected point set: Extrinsic.refine (normal equations
  * folded over the matched corners) and Intrinsic.refineBundle
  * (block-sparse Jacobian over the chessboard views).
  *
  * The schedule: lambda starts at 1e-3, x10 on a rejected step, /3 on an
  * accepted one (floored at 1e-12), at most 8 attempts per iteration;
  * stop when the relative cost decrease falls below 1e-9 or no attempt
  * is accepted. The damped diagonal is JtJ_ii + lambda * max(JtJ_ii,
  * 1e-12), so a parameter without curvature still gets a pivot.
  */
object Lm {

  /** Minimize a sum of squared residuals from `init` in at most
    * `maxIter` iterations. `normalEq(p)` returns (J^T J, J^T r, cost at p);
    * `cost(p)` is the sum of squared residuals at p. Returns the final
    * parameters and the cost at them.
    */
  def minimize(init: Array[Double], maxIter: Int)(
      normalEq: Array[Double] => (Array[Array[Double]], Array[Double], Double),
      cost: Array[Double] => Double): (Array[Double], Double) = {
    val n = init.length
    var p = init.clone()
    var c = Double.NaN
    var lambda = 1e-3
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val (jtj, jtr, c0) = normalEq(p)
      c = c0
      // (JtJ + lambda diag(JtJ)) step = -Jtr; accept if the cost drops
      var accepted = false
      var tries = 0
      while (!accepted && tries < 8) {
        val damped = Array.tabulate(n, n)((i, j) =>
          jtj(i)(j) + (if (i == j) lambda * math.max(jtj(i)(i), 1e-12) else 0.0))
        val step = Geometry.solveLinear(damped, jtr.map(-_))
        val cand = Array.tabulate(n)(i => p(i) + step(i))
        val cCand = cost(cand)
        if (cCand < c0) {
          converged = c0 - cCand < 1e-9 * c0
          p = cand; c = cCand; lambda = math.max(lambda / 3, 1e-12)
          accepted = true
        } else {
          lambda *= 10; tries += 1
        }
      }
      if (!accepted) converged = true
      iter += 1
    }
    (p, if (iter == 0) cost(p) else c)
  }
}
