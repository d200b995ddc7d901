package graft.sources

import java.io.File

import graft.SparkSpec

/** The declared star-table schemas read every harness book exactly as
  * parquet inference would: same column names, order, types and
  * nullability. */
class TablesSpec extends SparkSpec {

  private val books = Option(new File("/root/testdata").listFiles).toSeq.flatten
    .filter(d => new File(d, "region.parquet").exists).map(_.getPath).sorted

  private def shape(t: org.apache.spark.sql.types.StructType) =
    t.fields.toSeq.map(f => (f.name, f.dataType, f.nullable))

  test("each declared star-table schema equals the inferred one, in every book") {
    assert(books.nonEmpty)
    for (dir <- books; (name, declared) <- Tables.schemas) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(shape(declared) == shape(inferred), s"$dir/$name.parquet")
      assert(shape(Tables.table(spark, dir, name).schema) == shape(inferred))
    }
  }

}
