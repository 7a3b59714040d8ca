package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash-sketch column helpers for near-duplicate detection: LSH band
  * hashing of MinHash signatures, the Jaccard estimate, and SimHash Hamming
  * distance and blocking — composed from `xxhash64` and higher-order array
  * functions, with no UDFs. The signatures themselves are the native
  * kernels `graft.plans.MinHashSignatureExpr` and `SimHash64Expr`.
  */
object HashFunctions {

  /** LSH band hashes: split the signature into `bands` bands of
    * `rows = len/bands` and hash each band (band index mixed in). Returns
    * Array[Struct(band Int, bucket Long)] ready to explode. */
  def bandHashes(signature: Column, numHashes: Int, bands: Int): Column = {
    require(numHashes % bands == 0, s"numHashes $numHashes not divisible by bands $bands")
    val rows = numHashes / bands
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.cast("int").as("band"),
        xxhash64(b, slice(signature, b * lit(rows) + lit(1), lit(rows))).as("bucket")))
  }

  /** Estimated Jaccard similarity from two MinHash signatures: fraction of
    * agreeing positions. */
  def minhashJaccardEstimate(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / size(sigA)

  /** Hamming distance between two 64-bit hashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash LSH blocks: split the 64-bit hash into `chunks` chunks; two
    * docs within hamming distance < chunks share at least one chunk value
    * (pigeonhole). Returns Array[Struct(chunk Int, key Long)]. */
  def simhashBlocks(sim: Column, chunks: Int = 4): Column = {
    val width = 64 / chunks
    val mask = lit((1L << width) - 1)
    array((0 until chunks).map(i =>
      struct(lit(i).as("chunk"),
        shiftright(sim, i * width).bitwiseAND(mask).as("key"))): _*)
  }
}
