package graft

import graft.search.Search
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Built-ins-only formulations of native kernels: the differential
  * references the kernel specs compare against, bit for bit. */
object ReferenceTwins {

  /** [[Search.ivfAssign]] as array_min over literal centroid structs;
    * inlines every centroid into the generated code, so it stops
    * codegenning at large nCentroids. */
  def ivfAssignLiteral(vec: Column, cents: Array[Array[Double]]): Column = {
    val vv = Search.dot(vec, vec)
    val entries = cents.zipWithIndex.map { case (c, i) =>
      var cn = 0.0; var j = 0
      while (j < c.length) { cn += c(j) * c(j); j += 1 }
      struct((vv - lit(2.0) * Search.dot(vec, typedLit(c)) + lit(cn)).as("d"),
        lit(i).as("cid"))
    }
    array_min(array(entries.toIndexedSeq: _*)).getField("cid")
  }

  /** [[Search.bqSignatures]] as 64 when-branches per word; inlines one
    * branch per dimension into the generated code, so it bloats at
    * fused-vector widths. */
  def bqSignaturesHof(vec: Column, thresholds: Array[Double]): Column = {
    val v = Search.asDouble(vec)
    val words = thresholds.indices.grouped(64).map { idxs =>
      idxs.map { i =>
        when(element_at(v, i + 1) > lit(thresholds(i)), lit(1L << (i % 64)))
          .otherwise(lit(0L))
      }.reduce(_ + _)
    }.toSeq
    array(words: _*)
  }
}
