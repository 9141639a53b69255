package graft.sources.druid

import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The druid write options, parsed once from the option map (the
  * write rows of [[graft.Settings]], which hold the defaults) and passed
  * as this one value from the builder to every task's writer.
  * `rollupGran` is Some(queryGranularity) when rollup=true.
  */
final case class WriteSpec(
    bitmapIndexes: Boolean, frontCodedStrings: Boolean, granularity: Option[String],
    rollupGran: Option[String], codec: Byte, rollupDims: Set[String],
    complexTypes: Map[String, String], conciseBitmaps: Boolean,
    shardBy: Option[String], shards: Int, nestedJson: Boolean) {

  /** The checks that need the schema being written. */
  def check(schema: StructType): Unit = {
    rollupGran.foreach { _ =>
      require(schema.fields.exists(_.name == "__time"),
        "rollup requires a __time column")
      rollupDims.foreach { d =>
        require(d != "__time" && schema.fields.exists(_.name == d),
          s"rollupDimensions: no such column '$d'")
      }
      schema.fields.filter(_.name != "__time").foreach { f =>
        require(f.dataType != BinaryType &&
          f.dataType != TimestampType && f.dataType != TimestampNTZType,
          s"rollup: column '${f.name}' (${f.dataType.simpleString}) is neither " +
            "a dimension (string/array<string>) nor a summable metric")
      }
    }
    shardBy.foreach { d =>
      require(d != "__time",
        "shardBy: use segmentGranularity for time partitioning; shardBy " +
          "range-shards WITHIN each time chunk (Druid single_dim)")
      val f = schema.fields.find(_.name == d).getOrElse(
        throw new IllegalArgumentException(s"shardBy: no such column '$d'"))
      require(f.dataType == StringType || f.dataType == LongType ||
        f.dataType == IntegerType || f.dataType == DoubleType ||
        f.dataType == FloatType,
        s"shardBy: column '$d' (${f.dataType.simpleString}) is not a " +
          "scalar dimension (string or numeric)")
    }
  }
}

object WriteSpec {
  import graft.Settings._

  /** Parse a druid sink's options; an unknown key or a bad value throws
    * [[graft.Settings.BadSetting]] naming it.
    */
  def from(o: CaseInsensitiveStringMap): WriteSpec = {
    refuseUnknown(WriteOption, o)
    WriteSpec(BitmapIndexes.in(o), StringEncoding.in(o), SegmentGranularityOpt.in(o),
      if (Rollup.in(o)) Some(QueryGranularity.in(o)) else None, CompressionOpt.in(o),
      RollupDimensions.in(o).toSet, ComplexTypes.in(o), BitmapEncoding.in(o),
      ShardBy.in(o), Shards.in(o), JsonEncoding.in(o))
  }
}
