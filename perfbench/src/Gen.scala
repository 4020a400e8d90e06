package perfbench

import java.util.SplittableRandom

/** Seeded input generators. The same seed gives the same inputs. */
object Gen {

  /** `n` vectors in `clusters` Gaussian clusters around unit-variance
    * centers. */
  def clustered(seed: Long, n: Int, dim: Int, clusters: Int, spread: Double): Array[Array[Float]] = {
    val r = new SplittableRandom(seed)
    val centers = Array.fill(clusters)(Array.fill(dim)(r.nextGaussian().toFloat))
    Array.tabulate(n) { _ =>
      val c = centers(r.nextInt(clusters))
      Array.tabulate(dim)(j => (c(j) + spread * r.nextGaussian()).toFloat)
    }
  }
}
