package idrbench

import java.nio.file.{Files, Path}

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Type, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Column kinds the generator writes. */
sealed trait Kind
object Kind {
  case object Str extends Kind
  case object I32 extends Kind
  case object I64 extends Kind
  case object F64 extends Kind
  case object Date extends Kind
  case object Ts extends Kind
  case object F32List extends Kind
}

final case class Col(name: String, kind: Kind)

/** Writes generated rows straight to a parquet file with parquet-mr, outside
  * Spark: no job ids or random file names, so the same rows always give the
  * same bytes at the same path. A row is an `Array[Any]` aligned with `cols`;
  * `null` is a null value. Dates are `LocalDate`, timestamps `Instant`.
  */
object ParquetOut {

  private def field(c: Col): Type = c.kind match {
    case Kind.Str => Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named(c.name)
    case Kind.I32 => Types.optional(PrimitiveTypeName.INT32).named(c.name)
    case Kind.I64 => Types.optional(PrimitiveTypeName.INT64).named(c.name)
    case Kind.Date => Types.optional(PrimitiveTypeName.INT32)
        .as(LogicalTypeAnnotation.dateType()).named(c.name)
    case Kind.Ts => Types.optional(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(true, LogicalTypeAnnotation.TimeUnit.MICROS))
        .named(c.name)
    case Kind.F64 => Types.optional(PrimitiveTypeName.DOUBLE).named(c.name)
    case Kind.F32List => Types.optionalGroup().as(LogicalTypeAnnotation.listType())
        .addField(Types.repeatedGroup()
          .addField(Types.optional(PrimitiveTypeName.FLOAT).named("element"))
          .named("list"))
        .named(c.name)
  }

  def schema(cols: Seq[Col]): MessageType =
    new MessageType("row", cols.map(field): _*)

  def write(path: Path, cols: Seq[Col], rows: Iterable[Array[Any]]): Unit = {
    Files.createDirectories(path.getParent)
    val ms = schema(cols)
    val factory = new SimpleGroupFactory(ms)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(ms)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try rows.foreach { row =>
      val g = factory.newGroup()
      var i = 0
      while (i < cols.length) {
        val name = cols(i).name
        row(i) match {
          case null =>
          case s: String => g.append(name, s)
          case n: Int => g.append(name, n)
          case l: Long => g.append(name, l)
          case d: java.time.LocalDate => g.append(name, d.toEpochDay.toInt)
          case t: java.time.Instant => g.append(name, t.getEpochSecond * 1000000L + t.getNano / 1000)
          case d: Double => g.append(name, d)
          case fs: Array[Float] =>
            val lg = g.addGroup(name)
            fs.foreach(f => lg.addGroup("list").append("element", f))
          case other => throw new IllegalArgumentException(
            s"column $name: unsupported value ${other.getClass}")
        }
        i += 1
      }
      w.write(g)
    } finally w.close()
  }
}
