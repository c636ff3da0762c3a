package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Column-API front for the native vector expressions. */
object VectorFunctions {

  private def mat(rows: Seq[Seq[Double]]): Array[Array[Double]] =
    rows.map(_.toArray).toArray

  /** Indices of the `n` nearest matrix rows by dot product, best
    * first; ties to the lowest index. See [[NearestCells]]. */
  def nearestCells(vec: Column, matrix: Seq[Seq[Double]], n: Int): Column =
    ColumnBridge.column(NearestCells(ColumnBridge.expression(vec), mat(matrix), n))

  /** Sign-bucket id against hyperplane rows. See [[SignBucketExpr]]. */
  def signBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    ColumnBridge.column(SignBucketExpr(ColumnBridge.expression(vec), mat(planes)))

  /** All row·vec dots against a fixed matrix, as array<double>.
    * See [[MatrixDots]]. */
  def matrixDots(vec: Column, matrix: Seq[Seq[Double]]): Column =
    ColumnBridge.column(MatrixDots(ColumnBridge.expression(vec), mat(matrix)))

  /** MinHash signature aggregate over 64-bit hashes. See [[MinHashAgg]]. */
  def minhashAgg(hash: Column, numHashes: Int): Column =
    ColumnBridge.column(
      MinHashAgg(ColumnBridge.expression(hash), numHashes).toAggregateExpression())

  /** SimHash-64 sketch aggregate over long hashes or md5 hex strings.
    * See [[SimHashAgg]]. */
  def simhashAgg(hashOrHex: Column): Column =
    ColumnBridge.column(
      SimHashAgg(ColumnBridge.expression(hashOrHex)).toAggregateExpression())

  /** Cosine similarity of two vector columns, one fused loop.
    * See [[CosineSim]]. */
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSim(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Distinct sliding-window minima of character k-gram hashes — the
    * winnowing fingerprint inner loop. See [[WinnowingMins]]. */
  def winnowingMins(text: Column, k: Int, w: Int, hashMode: String): Column =
    ColumnBridge.column(WinnowingMins(ColumnBridge.expression(text), k, w, hashMode))

  /** Distinct word n-gram shingle hashes of a whitespace-normalized
    * document. See [[ShingleHashes]]. */
  def shingleHashes(normText: Column, n: Int): Column =
    ColumnBridge.column(ShingleHashes(ColumnBridge.expression(normText), n))

  /** All character n-grams in position order, in one pass over the
    * code points. See [[CharNgrams]]. */
  def charNgrams(text: Column, n: Int): Column =
    ColumnBridge.column(CharNgrams(ColumnBridge.expression(text), n))

  /** Positional (non-distinct) word n-gram shingle hashes — array
    * index = 0-based start word. See [[ShingleHashStarts]]. */
  def shingleHashStarts(normText: Column, n: Int): Column =
    ColumnBridge.column(ShingleHashStarts(ColumnBridge.expression(normText), n))

  /** Whole-document SimHash-64 sketch over word n-gram shingles of a
    * whitespace-normalized document. See [[SimHashSketch]]. */
  def simhashSketch(normText: Column, n: Int, hashMode: String): Column =
    ColumnBridge.column(SimHashSketch(ColumnBridge.expression(normText), n, hashMode))

  /** Whole-document MinHash signature over a distinct shingle-hash
    * array. See [[MinHashSignature]]. */
  def minhashSignature(hashes: Column, numHashes: Int): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(hashes), numHashes))

  /** One-permutation MinHash signature with optimal densification —
    * the O(1)-per-shingle scale mode. See [[OnePermSignature]]. */
  def onePermSignature(hashes: Column, numHashes: Int): Column =
    ColumnBridge.column(OnePermSignature(ColumnBridge.expression(hashes), numHashes))
}
