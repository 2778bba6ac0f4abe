package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet state tables kept in a directory each: read with a declared
  * schema, replaced by snapshot swap. The pipeline's attempts ledger and
  * quiescence clocks share this one commit path.
  */
object StateTable {

  /** The schema of `T`'s encoder with every column nullable, as file reads
    * see it.
    */
  def schemaOf[T <: Product: TypeTag]: StructType =
    StructType(Encoders.product[T].schema.map(_.copy(nullable = true)))

  /** The table at `path` read with `schema` — no schema-inference job — or
    * an empty frame of that schema before the first write. Columns a file
    * lacks read as null.
    */
  def read(spark: SparkSession, path: String, schema: StructType): DataFrame =
    if (Files.exists(Paths.get(path))) spark.read.schema(schema).parquet(path)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** Snapshot-swap commit: write to a temp dir, then atomically replace the
    * live dir. Readers either see the old or the new snapshot, never a
    * partial write — the `.partial` → rename protocol of the archive sink
    * applied to a table. `df` may read the live dir: it is fully written to
    * the temp dir before the live dir moves.
    */
  def swap(df: DataFrame, livePath: String): Unit = {
    val tmp = Paths.get(livePath + ".swap")
    val old = Paths.get(livePath + ".old")
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val live = Paths.get(livePath)
    if (Files.exists(live))
      Files.move(live, old, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, live, StandardCopyOption.ATOMIC_MOVE)
    deleteRecursive(old)
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder()).forEach(Files.deleteIfExists(_))
      finally stream.close()
    }
}
