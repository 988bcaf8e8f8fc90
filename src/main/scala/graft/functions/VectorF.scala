package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Vector scalar functions over `array<float|double>` columns.
  *
  * All math is expressed as native Catalyst higher-order functions (no
  * UDFs), so the expressions stay inside whole-stage codegen, and in
  * double precision with a sequential left fold so results are
  * bit-identical to the DuckDB oracle's `list_sum(list_transform(...))`
  * evaluation order.
  *
  * Reference semantics: radient/tasks/sinks/local/_gkmeans.py:74-98
  * (l2/cosine distances), radient/tasks/vectorizers/_base.py:13-21
  * (unit normalization), radient/tasks/sinks/local/_gann_c_src/gann.c:460-492
  * (dot/norm kernels with precomputed squared norms).
  */
object VectorF {
  private def d(c: Column): Column = c.cast("double")

  /** Σ aᵢ·bᵢ as a sequential double fold (matches gann.c:460-487).
    * Backed by the codegen'd [[DotProduct]] expression — bit-identical to
    * the `aggregate(zip_with(...))` fold it replaced, but a primitive loop
    * inside whole-stage codegen instead of per-element lambda dispatch. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** ‖a‖² — persisted as a `norm_sq` column by the index builder, the same
    * trick as gann.c:832-841 (turns L2 into one dot product). */
  def normSq(a: Column): Column = dot(a, a)

  def l2Norm(a: Column): Column = sqrt(normSq(a))

  /** √Σ(aᵢ−bᵢ)² via the codegen'd [[L2Distance]] expression (same
    * sequential fold as the HOF form it replaced). */
  def l2Dist(a: Column, b: Column): Column =
    ColumnBridge.column(L2Distance(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** cosine given precomputed norms — avoids recomputing ‖·‖ per pair in
    * O(n²)/top-k plans (precompute once per side, like gann.c:1069). */
  def cosinePre(dotC: Column, normA: Column, normB: Column): Column =
    dotC / (normA * normB)

  /** Unit L2 normalization; the zero vector maps to zeros (the reference
    * warns and skips non-normalizable inputs, _base.py:14-15).
    *
    * The input is bound ONCE as a lambda variable by routing it through a
    * single-element array: naive `transform(a, x => x / l2Norm(a))` embeds
    * the whole `a` subtree inside the per-element lambda, and optimizer
    * projection-pushdown (e.g. through a union) can substitute an
    * arbitrarily expensive expression for `a` — HOF lambda bodies get no
    * subexpression elimination, so that subtree would re-evaluate
    * ~3·dim times per row (this made the multimodal featurize query 54 s
    * at sf0.1; with the binding it is <1 s). */
  def normalize(a: Column): Column =
    element_at(transform(array(a), v => {
      val n = l2Norm(v)
      transform(v, x => when(n === lit(0.0), lit(0.0)).otherwise(d(x) / n))
    }), 1)

  /** Jaccard similarity between boolean arrays (molecule fingerprints,
    * examples/drug_discovery.md:42-47). */
  def jaccardSimBool(a: Column, b: Column): Column = {
    val inter = size(filter(zip_with(a, b, (x, y) => x && y), v => v))
    val union = size(filter(zip_with(a, b, (x, y) => x || y), v => v))
    when(union === 0, lit(0.0)).otherwise(d(inter) / d(union))
  }

  def jaccardDistBool(a: Column, b: Column): Column =
    lit(1.0) - jaccardSimBool(a, b)

  /** Jaccard over packed-long fingerprints (64 bits per element) — the
    * scale path: popcount instead of per-bit booleans. */
  def jaccardSimPacked(a: Column, b: Column): Column = {
    val inter = aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseAND(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)
    val union = aggregate(zip_with(a, b, (x, y) => bit_count(x.bitwiseOR(y)).cast("long")),
      lit(0L), (acc, x) => acc + x)
    when(union === 0L, lit(0.0)).otherwise(d(inter) / d(union))
  }

  /** Hamming distance between two long-encoded bit signatures (SimHash). */
  def hammingDist(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** Σ popcount(aᵢ xor bᵢ) over two packed `array<long>` signatures —
    * the codegen'd [[HammingWords]] kernel. */
  def hammingWords(a: Column, b: Column): Column =
    ColumnBridge.column(HammingWords(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Signed distance to the hyperplane (w, b) — GANN tree routing
    * (radient/tasks/sinks/local/gann.py:21-29). */
  def hyperplaneSide(v: Column, w: Column, bias: Column): Column =
    dot(v, w) + bias
}
