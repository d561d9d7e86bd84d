package graft.tables

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._

/** ParquetFileFormat that re-attaches `parquet.field.id` metadata to
  * the (possibly pruned) required schema before building readers.
  *
  * Spark's nested-schema pruning rebuilds pruned struct types from
  * expression dataTypes, which carry no field metadata — so a scan
  * that must match parquet columns BY FIELD ID (Delta `id`-mode
  * column mapping, PROTOCOL.md "Column Mapping") silently loses the
  * ids exactly when a query prunes nested fields, and the parquet
  * reader falls back to name matching — every renamed column reads
  * as a missing column, i.e. null, with no error. Re-attaching the
  * ids from the full annotated schema (matching pruned fields by
  * name at every depth) restores id matching at any pruning level
  * while keeping pruning itself fully effective. Its readers match
  * by field id whatever `spark.sql.parquet.fieldId.read.enabled` says
  * on the session.
  */
class FieldIdParquetFileFormat(val fullSchema: StructType)
    extends ParquetFileFormat {

  private val IdKey = "parquet.field.id"

  private def reattach(pruned: DataType, full: DataType): DataType =
    (pruned, full) match {
      case (p: StructType, f: StructType) =>
        StructType(p.fields.map { pf =>
          f.find(_.name == pf.name) match {
            case Some(ff) =>
              val mb = new MetadataBuilder().withMetadata(pf.metadata)
              if (ff.metadata.contains(IdKey))
                mb.putLong(IdKey, ff.metadata.getLong(IdKey))
              StructField(pf.name, reattach(pf.dataType, ff.dataType),
                pf.nullable, mb.build())
            // fields absent from the table schema (e.g. the _metadata
            // constant column) pass through untouched
            case None => pf
          }
        })
      case (p: ArrayType, f: ArrayType) =>
        p.copy(elementType = reattach(p.elementType, f.elementType))
      case (p: MapType, f: MapType) =>
        p.copy(keyType = reattach(p.keyType, f.keyType),
          valueType = reattach(p.valueType, f.valueType))
      case _ => pruned
    }

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration)
      : PartitionedFile => Iterator[InternalRow] = {
    // Spark's parquet reader matches by field id only when this key
    // is on in the reader's Hadoop conf, and silently name-matches
    // (every id-mapped column reads as null) otherwise. Turn it on in
    // a copy for this reader alone, whatever the session says.
    val idConf = new Configuration(hadoopConf)
    idConf.setBoolean("spark.sql.parquet.fieldId.read.enabled", true)
    super.buildReaderWithPartitionValues(sparkSession,
      reattach(dataSchema, fullSchema).asInstanceOf[StructType],
      partitionSchema,
      reattach(requiredSchema, fullSchema).asInstanceOf[StructType],
      filters, options, idConf)
  }

  // ParquetFileFormat.equals treats ALL parquet formats as equal,
  // which would let plan canonicalization conflate an id-mapped scan
  // with a plain one; distinguish by the annotated schema
  override def equals(other: Any): Boolean = other match {
    case f: FieldIdParquetFileFormat => f.fullSchema == fullSchema
    case _ => false
  }
  override def hashCode(): Int = fullSchema.hashCode()
}
