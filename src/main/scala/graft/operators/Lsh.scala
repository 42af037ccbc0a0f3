package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The banded-LSH candidate steps every similarity operator shares
  * (Leskovec, Rajaraman and Ullman, *Mining of Massive Datasets*, ch. 3):
  * band keys of a signature array, the deterministic bucket cap, and the
  * narrow bucket self-join. Callers sign, band with [[bandKeys]], take
  * candidates from [[bucketPairs]] (or [[capBuckets]] for a one-sided
  * store), then join their own payload back in and verify. */
private[graft] object Lsh {

  /** LSH band keys of the array column `arrayCol` of length `width`: a
    * `posexplode` of one xxhash64 per band of `width / bands` consecutive
    * components, aliased `(band, band_hash)`. Two rows share a bucket iff
    * they agree on a whole band. */
  def bandKeys(arrayCol: String, width: Int, bands: Int): Column = {
    require(width % bands == 0, s"bands ($bands) must divide the signature width ($width)")
    val r = width / bands
    posexplode(expr(
      s"transform(sequence(0, ${bands - 1}), b -> xxhash64(slice($arrayCol, b * $r + 1, $r)))"))
      .as(Seq("band", "band_hash"))
  }

  /** Keeps the `maxBucket` lowest `idCol` values of every (band, band_hash)
    * bucket: a sort-based, spillable `row_number` window. Caps the
    * |bucket|² self-join that a hot bucket (boilerplate, mass-duplicated
    * vectors) would otherwise cost; the survivors are deterministic. */
  def capBuckets(banded: DataFrame, idCol: String, maxBucket: Int): DataFrame =
    banded
      .withColumn("rn", row_number().over(
        Window.partitionBy("band", "band_hash").orderBy(idCol)))
      .where(col("rn") <= maxBucket)
      .drop("rn")

  /** Distinct candidate pairs of `banded` (`idCol`, band, band_hash) rows:
    * the optional [[capBuckets]], the (band, band_hash) self-join, `a < b`,
    * and one row per pair however many bands it shares. For `idCol`
    * `<p>_id` the output columns are `<p>_a` and `<p>_b`. Only narrow id
    * rows pass through the window, the join and the dedup; callers join
    * their signatures or vectors back in afterwards. */
  def bucketPairs(banded: DataFrame, idCol: String, maxBucket: Option[Int]): DataFrame = {
    val prefix = idCol.stripSuffix("_id")
    val (a, b) = (s"${prefix}_a", s"${prefix}_b")
    val capped = maxBucket.fold(banded)(capBuckets(banded, idCol, _))
    capped.select(col("band"), col("band_hash"), col(idCol).as(a))
      .join(capped.select(col("band"), col("band_hash"), col(idCol).as(b)),
        Seq("band", "band_hash"))
      .where(col(a) < col(b))
      .select(a, b)
      .dropDuplicates(a, b)
  }
}
