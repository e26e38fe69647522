package graft.noise

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Seeded, column-expression noise injection for robustness testing.
 *
 * Reference analog: cs562_sdpg `src2/main/scala/Noise.scala:6-22` — a
 * `Dataset.map` with `RowEncoder` using **unseeded** `scala.util.Random`
 * (non-reproducible, a defect per SURVEY.md appendix), exempting `*id*`
 * columns (`Noise.scala:15`). Rebuild: `when(u < p, null)` columns —
 * deterministic per seed, codegen'd, no encoder round-trip. The draw `u` is
 * a hash of `(seed + i, the row's original columns)` mapped into [0, 1),
 * not `rand(seed)`: `rand` is seeded per partition, so its draws (and the
 * corrupted rows) would change with the input's partition layout.
 */
object Noise {

  /** Uniform draw in [0, 1) for stream `stream`, a function of the row's
    * pre-noise columns only: the top 53 bits of their xxhash64. */
  private def draw(df: DataFrame, stream: Long): Column =
    shiftrightunsigned(xxhash64(lit(stream) +: df.columns.toSeq.map(df(_)): _*), 11)
      .cast("double") / (1L << 53).toDouble

  /** Null out each cell with probability `p` (seeded). Columns
    * whose lowercase name contains "id" are exempt, mirroring the reference
    * exemption. */
  def addNoise(df: DataFrame, p: Double, seed: Long = 42L): DataFrame =
    df.select(df.columns.toSeq.zipWithIndex.map { case (c, i) =>
      if (c.toLowerCase.contains("id")) df(c)
      else when(draw(df, seed + i) < p, lit(null)).otherwise(df(c)).as(c)
    }: _*)

  /** Typo injection for string columns: with probability `p`, double the
    * last character (a deterministic corruption the linker must absorb). */
  def addTypos(df: DataFrame, cols: Seq[String], p: Double, seed: Long = 43L): DataFrame = {
    val typoed = cols.zipWithIndex.map { case (c, i) =>
      c -> when(draw(df, seed + i) < p && df(c).isNotNull && length(df(c)) > 3,
        concat(df(c), substring(df(c), -1, 1))).otherwise(df(c))
    }.toMap
    df.select(df.columns.toSeq.map(c => typoed.get(c).fold(df(c))(_.as(c))): _*)
  }
}
