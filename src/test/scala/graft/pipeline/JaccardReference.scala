package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The built-ins spelling of exact Jaccard similarity, kept as the
  * reference the specs check `TextFunctions.jaccardSorted` against. */
object JaccardReference {

  /** Exact Jaccard similarity of two distinct-element arrays. NULL for
    * two empty sets (try_divide). The intersection is built once and
    * threaded through a one-element `transform`, so `array_intersect`
    * isn't evaluated twice per pair. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    element_at(
      transform(array(inter),
        i => try_divide(i, size(a) + size(b) - i)),
      1)
  }
}
