package graft.sink

import java.io.{BufferedOutputStream, DataOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Pure-Scala writer for the NetCDF classic binary format (CDF-1),
  * closing the reference's one remaining binary-sink gap
  * (`/root/reference/bin/fs_process_l2.py:194-204` exports the Level-2
  * dataset with `xarray.Dataset.to_netcdf`). The classic format is a
  * small, fully public specification (Unidata "NetCDF Classic Format
  * Spec"): a big-endian header (magic, dims, attributes, variable
  * metadata with explicit byte offsets) followed by row-major variable
  * data — no compression, no groups — which makes a dependency-free
  * writer ~150 lines.
  *
  * Scope mirrors the reference's actual usage: fixed dimensions (the
  * exported dataset is materialized, so no unlimited/record dimension
  * is needed — numrecs = 0), NC_CHAR string attributes (CF `units`,
  * `standard_name`, `timezone`, …), and NC_DOUBLE/NC_FLOAT/NC_INT
  * variables of any rank (time × sensor matrices, coordinate vectors,
  * install-depth aux coordinates).
  *
  * Scale note: a NetCDF classic file is a single sequential artifact —
  * this sink is DRIVER-SIDE by design, exactly like the reference's
  * in-memory xarray export, and is bounded to export-sized results
  * (a site-level Level-2 dataset, not the raw corpus). The distributed
  * scale path for analytical storage remains
  * `Writers.parquetWithAttrs` (Parquet + attrs sidecar); this sink
  * exists for interchange with NetCDF/CF tooling. */
object NetCdf {

  /** NetCDF external types (classic subset used here). */
  val NcChar = 2
  val NcInt = 4
  val NcFloat = 5
  val NcDouble = 6

  case class Dim(name: String, length: Int)
  /** Attribute: NC_CHAR string (CF names/units) or numeric (the
    * reference's `scale_factor=0.001` / `_FillValue=-9999` encoding
    * attrs need NC_DOUBLE / NC_INT values). */
  case class Att(name: String, value: String,
                 num: Option[(Int, Double)] = None)
  object Att {
    def dbl(name: String, v: Double): Att =
      Att(name, "", Some((NcDouble, v)))
    def int(name: String, v: Int): Att =
      Att(name, "", Some((NcInt, v.toDouble)))
  }
  /** `data` is row-major over `dimIds` (indices into the dims list);
    * `ncType` governs on-disk encoding of the doubles. */
  case class Var(name: String, dimIds: Seq[Int], atts: Seq[Att],
                 ncType: Int, data: Array[Double])
  case class Dataset(dims: Seq[Dim], atts: Seq[Att], vars: Seq[Var])

  /** Driver-side bridge from an export-sized wide product (the Level-2
    * result shape, collected once by `Collect.rows`): `timeCol`
    * becomes the time coordinate (seconds since epoch, CF units attr),
    * every other numeric column a 1-D NC_DOUBLE variable over time;
    * nulls encode as NaN (the same choice xarray makes for float data).
    * `rows` must come in time order: the coordinate is written as given.
    * Every check on the values runs before `path` is opened — the
    * reference's in-memory xarray export; the distributed path stays
    * Parquet + sidecar. */
  def writeWide(conf: Configuration, path: String, schema: StructType,
                rows: Array[InternalRow], timeCol: String,
                globalAtts: Seq[Att] = Nil,
                varAtts: Map[String, Seq[Att]] = Map.empty,
                fixedPointCols: Seq[String] = Nil): Unit = {
    // DecimalType included: it is the engine's own fixed-point S8
    // representation — silently dropping it would "export" a file
    // missing variables
    def isNumeric(t: DataType): Boolean = t match {
      case DoubleType | FloatType | IntegerType | LongType |
           ShortType | ByteType => true
      case _: DecimalType => true
      case _ => false
    }
    val fields = schema.fields.zipWithIndex
      .filter { case (f, _) => f.name != timeCol && isNumeric(f.dataType) }
    require(rows.nonEmpty, "netcdf export of an empty frame")
    val t = schema.fieldIndex(timeCol)
    val time: InternalRow => Double = schema(t).dataType match {
      // as java.sql.Timestamp.getTime: whole milliseconds
      case TimestampType => r => Math.floorDiv(r.getLong(t), 1000L) / 1000.0
      case dt if isNumeric(dt) => r => value(r, t, schema(t))
      case other => throw new IllegalArgumentException(
        s"$timeCol: unsupported time type $other")
    }
    val times = rows.map { r =>
      require(!r.isNullAt(t), s"$timeCol: null time value")
      time(r)
    }
    require(times.indices.drop(1).forall(i => times(i - 1) <= times(i)),
      s"$timeCol: rows are not in time order")
    def colData(f: StructField, i: Int): Array[Double] = rows.map { r =>
      if (r.isNullAt(i)) Double.NaN else value(r, i, f)
    }
    val timeVar = Var(timeCol, Seq(0),
      Seq(Att("units", "seconds since 1970-01-01 00:00:00"),
        Att("timezone", "UTC")), NcDouble, times)
    // the reference's per-variable encoding (fs_process_l2.py:196-200):
    // int32 with scale_factor=0.001 and _FillValue=-9999 — a CF reader
    // reconstructs value = int * scale_factor, fill where -9999
    val dataVars = fields.map { case (f, i) =>
      if (fixedPointCols.contains(f.name))
        Var(f.name, Seq(0),
          varAtts.getOrElse(f.name, Nil) ++
            Seq(Att.dbl("scale_factor", 0.001),
              Att.int("_FillValue", -9999)),
          NcInt,
          colData(f, i).map { d =>
            if (d.isNaN) -9999.0
            else {
              // half-even like the reference encoder (xarray applies
              // np.around before the int32 cast), so ties match
              val scaled = math.rint(d * 1000)
              // |v| beyond ~2.147e6 (or ±Inf) would wrap int32 into
              // silently corrupt decoded values — fail loud
              require(d.isFinite && math.abs(scaled) <= Int.MaxValue,
                s"${f.name}: $d out of int32 fixed-point range")
              // a real value of exactly -9.999 encodes to the
              // _FillValue sentinel and would decode as MISSING —
              // refuse the silent data loss
              require(scaled != -9999.0,
                s"${f.name}: $d collides with the -9999 _FillValue")
              scaled
            }
          })
      else
        Var(f.name, Seq(0), varAtts.getOrElse(f.name, Nil), NcDouble,
          colData(f, i))
    }
    write(conf, path, Dataset(Seq(Dim(timeCol, rows.length)), globalAtts,
      timeVar +: dataVars.toSeq))
  }

  /** A numeric cell as the NC_DOUBLE it is stored as; fails on a value
    * a double cannot hold exactly. */
  private def value(r: InternalRow, i: Int, f: StructField): Double =
    f.dataType match {
      case DoubleType => r.getDouble(i)
      case FloatType => r.getFloat(i).toDouble
      case IntegerType => r.getInt(i).toDouble
      case ShortType => r.getShort(i).toDouble
      case ByteType => r.getByte(i).toDouble
      case LongType =>
        // NetCDF classic has no int64: a long above 2^53 would coerce
        // through double with silent precision loss — reject it
        val l = r.getLong(i)
        // two-sided compare, not math.abs: abs(Long.MinValue) is
        // NEGATIVE and would slip through the magnitude guard
        require(l > -(1L << 53) && l <= (1L << 53),
          s"${f.name}: long value $l not exact in NC_DOUBLE")
        l.toDouble
      case dt: DecimalType =>
        val d = r.getDecimal(i, dt.precision, dt.scale).toJavaBigDecimal
        // same hazard as the long case: >15 significant decimal
        // digits silently lose digits through a double — fail loud.
        // stripTrailingZeros first: scale padding (123456.0000000000
        // in a decimal(20,10) column) is not significance.
        // (≤15 digits round-trip; the inherent binary approximation
        // of e.g. 0.1 is standard decimal→double conversion, kept.)
        require(d.stripTrailingZeros().precision <= 15,
          s"${f.name}: decimal $d not exact in NC_DOUBLE")
        d.doubleValue()
      case other => throw new IllegalArgumentException(
        s"${f.name}: unsupported type $other")
    }

  private val TagDim = 0x0A
  private val TagVar = 0x0B
  private val TagAtt = 0x0C

  private def typeSize(t: Int): Int = t match {
    case NcChar => 1
    case NcInt => 4
    case NcFloat => 4
    case NcDouble => 8
    case other => throw new IllegalArgumentException(s"nc_type $other")
  }

  private def pad4(n: Int): Int = (4 - n % 4) % 4

  private def nameBytes(s: String): Int = {
    val b = s.getBytes("UTF-8").length
    4 + b + pad4(b)
  }

  private def attBytes(a: Att): Int = a.num match {
    case Some((t, _)) =>
      val v = typeSize(t)
      nameBytes(a.name) + 4 + 4 + v + pad4(v)
    case None =>
      val v = a.value.getBytes("UTF-8").length
      nameBytes(a.name) + 4 + 4 + v + pad4(v)
  }

  private def attListBytes(as: Seq[Att]): Int =
    8 + as.map(attBytes).sum // tag+count (or ABSENT: still 8 bytes)

  private def vsize(ds: Dataset, v: Var): Int = {
    val raw = v.dimIds.map(ds.dims(_).length.toLong).product *
      typeSize(v.ncType)
    // CDF-1 offsets are 32-bit: a >2 GiB variable would wrap begin/
    // vsize into garbage offsets — fail loud, don't emit a corrupt file
    require(raw <= Int.MaxValue - 4,
      s"${v.name}: $raw bytes exceeds the CDF-1 32-bit offset format")
    (raw + pad4(raw.toInt)).toInt // spec: vsize includes the padding
  }

  private def varBytes(v: Var): Int =
    nameBytes(v.name) + 4 + 4 * v.dimIds.size + attListBytes(v.atts) +
      4 + 4 + 4 // nc_type, vsize, begin (CDF-1: 32-bit offsets)

  private def headerBytes(ds: Dataset): Int = {
    val dimList = 8 + ds.dims.map(d => nameBytes(d.name) + 4).sum
    val varList = 8 + ds.vars.map(varBytes).sum
    4 + 4 + dimList + attListBytes(ds.atts) + varList
  }

  /** Writes `ds` to `path` through the Hadoop FileSystem of its URI,
    * under a hidden name renamed into place (`Writers.commitFile`), once
    * every shape, type and offset check has passed. */
  def write(conf: Configuration, path: String, ds: Dataset): Unit = {
    require(ds.dims.forall(_.length > 0),
      "record (unlimited) dimensions are out of scope for this sink")
    ds.vars.foreach { v =>
      val n = v.dimIds.map(ds.dims(_).length.toLong).product
      require(v.data.length == n,
        s"${v.name}: ${v.data.length} values for shape of $n")
    }
    // validate every offset AND every variable's nc_type BEFORE
    // opening the stream: a require that fires mid-write would leave
    // a truncated, corrupt file on disk (the data loop below only
    // writes double/float/int payloads; an NcChar var passed the old
    // validation and then threw after the header was on disk)
    ds.vars.foreach(v => require(
      v.ncType == NcDouble || v.ncType == NcFloat || v.ncType == NcInt,
      s"${v.name}: nc_type ${v.ncType} has no data writer in this " +
        "sink (supported: NC_INT, NC_FLOAT, NC_DOUBLE)"))
    ds.vars.foldLeft(headerBytes(ds).toLong) { (begin, v) =>
      val end = begin + vsize(ds, v) // vsize itself checks > 2 GiB vars
      require(end <= Int.MaxValue,
        s"${v.name}: file exceeds the CDF-1 32-bit offset format")
      end
    }
    Writers.commitFile(conf, new Path(path)) { os =>
      val out = new DataOutputStream(new BufferedOutputStream(os))
      def writeName(s: String): Unit = {
        val b = s.getBytes("UTF-8")
        out.writeInt(b.length); out.write(b)
        (0 until pad4(b.length)).foreach(_ => out.writeByte(0))
      }
      def writeAttList(as: Seq[Att]): Unit = {
        if (as.isEmpty) { out.writeInt(0); out.writeInt(0) } // ABSENT
        else {
          out.writeInt(TagAtt); out.writeInt(as.size)
          as.foreach { a =>
            writeName(a.name)
            a.num match {
              case Some((t, d)) =>
                out.writeInt(t); out.writeInt(1) // one numeric value
                t match {
                  case NcDouble => out.writeDouble(d)
                  case NcInt => out.writeInt(d.toInt)
                  case NcFloat => out.writeFloat(d.toFloat)
                  case o => throw new IllegalArgumentException(
                    s"numeric attr nc_type $o")
                }
              case None =>
                out.writeInt(NcChar)
                val v = a.value.getBytes("UTF-8")
                out.writeInt(v.length); out.write(v)
                (0 until pad4(v.length)).foreach(_ => out.writeByte(0))
            }
          }
        }
      }
      out.write(Array[Byte]('C', 'D', 'F', 1)) // magic, CDF-1
      out.writeInt(0) // numrecs: no record variables
      if (ds.dims.isEmpty) { out.writeInt(0); out.writeInt(0) }
      else {
        out.writeInt(TagDim); out.writeInt(ds.dims.size)
        ds.dims.foreach { d => writeName(d.name); out.writeInt(d.length) }
      }
      writeAttList(ds.atts)
      if (ds.vars.isEmpty) { out.writeInt(0); out.writeInt(0) }
      else {
        out.writeInt(TagVar); out.writeInt(ds.vars.size)
        var begin = headerBytes(ds).toLong
        ds.vars.foreach { v =>
          writeName(v.name)
          out.writeInt(v.dimIds.size)
          v.dimIds.foreach(out.writeInt)
          writeAttList(v.atts)
          out.writeInt(v.ncType)
          out.writeInt(vsize(ds, v))
          out.writeInt(begin.toInt) // pre-validated above
          begin += vsize(ds, v)
        }
      }
      ds.vars.foreach { v =>
        var written = 0L
        v.ncType match {
          case NcDouble =>
            v.data.foreach(out.writeDouble); written = v.data.length * 8L
          case NcFloat =>
            v.data.foreach(d => out.writeFloat(d.toFloat))
            written = v.data.length * 4L
          case NcInt =>
            v.data.foreach(d => out.writeInt(d.toInt))
            written = v.data.length * 4L
          case other =>
            throw new IllegalArgumentException(s"nc_type $other data")
        }
        (0 until pad4(written.toInt)).foreach(_ => out.writeByte(0))
      }
      out.flush()
    }
  }
}
