package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Collection CRUD re-expressed relationally (reference:
  * /root/reference/pkg/storage/storage.go Insert/Get/Update/Delete/
  * List/Count and the CLI import/export at cmd/vectodb/main.go:83-99).
  *
  * A "collection" is a parquet directory (or any DataFrame). Point
  * mutations become set operations that stay fully distributed:
  * insert = union, delete = broadcast left_anti join, update (upsert)
  * = delete + union. Persisting is a parquet write; at scale the
  * write is partitioned/bucketed by the key for downstream pruning.
  */
object VectorStore {

  def insert(store: DataFrame, rows: DataFrame): DataFrame =
    store.unionByName(rows)

  /** THE batch delete every live index uses (Ann.deleteFromIvf and
    * the Pq/IvfPq/Sq/Bq `deleteFromIndex`): `store` minus the rows
    * whose key is in `keys`. A delete is a batch of ids and is
    * broadcast, so the store is never shuffled — the doomed ids
    * usually come without size statistics, and a plain anti-join
    * would plan a sort-merge join that shuffles the whole store on
    * every batch. A delete larger than a broadcast belongs in a
    * rebuild (or Ann.compactIvf), not here. Duplicate keys delete
    * once; a null key deletes nothing (and a null-keyed store row is
    * never deleted).
    */
  def delete(store: DataFrame, keyCol: String, keys: DataFrame): DataFrame =
    store.join(broadcast(keys.select(keyCol)), Seq(keyCol), "left_anti")

  /** Upsert: rows in `updates` replace store rows with the same key. */
  def update(store: DataFrame, keyCol: String, updates: DataFrame): DataFrame =
    delete(store, keyCol, updates).unionByName(updates)

  def get(store: DataFrame, keyCol: String, key: Any): DataFrame =
    store.where(col(keyCol) === lit(key))

  def listIds(store: DataFrame, keyCol: String): DataFrame =
    store.select(keyCol).orderBy(col(keyCol))

  def count(store: DataFrame): Long = store.count()

  def save(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def exportCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  def exportJson(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def importCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", "true").option("inferSchema", "true").csv(path)

  def importJson(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** ORC round-trip (built-in columnar sibling of the parquet store;
    * same predicate-pushdown/column-pruning behavior at rest, so a
    * collection can live in either format interchangeably).
    */
  def exportOrc(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).orc(path)

  def importOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Deterministic "random" vector generation (the reference CLI's
    * `random` command, cmd/vectodb/main.go:201): component j of row i
    * is a hash-derived uniform in [-0.5, 0.5). Seeded + reproducible
    * across runs and engines — no RNG state, pure map over range(n).
    */
  def randomVectors(spark: SparkSession, n: Long, dim: Int, seed: Long = 42L): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j => {
        // Knuth hash mod 2^32 WITHOUT 64-bit overflow: a naive
        // (x * 2654435761) overflows Long for x*dim ≳ 3.5e9 and the
        // sign-preserving % would then emit components outside
        // [-0.5, 0.5). Mask x to 32 bits, then multiply in two 16-bit
        // halves (each product < 2^48) and recombine mod 2^32 —
        // bit-identical to the naive form wherever it didn't overflow.
        val x = (col("id") * dim + j + seed).bitwiseAND(lit(0xffffffffL))
        val lo = x.bitwiseAND(lit(0xffffL)) * 2654435761L
        val hi = shiftleft(
          shiftright(x, 16) * 2654435761L, 16).bitwiseAND(lit(0xffffffffL))
        (((lo + hi) % 4294967296L) / lit(4294967296.0) - 0.5).cast("float")
      }).as("embedding"))
}
