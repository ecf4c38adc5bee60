package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.scalatest.Assertions._

import graft.sink.NetCdf

/** Minimal NetCDF classic (CDF-1) reader for specs, written straight off
  * the Unidata classic-format spec — it shares no code with
  * `graft.sink.NetCdf`, so a round-trip through it checks the writer
  * against the format, not against itself. */
object NcReader {

  case class RVar(name: String, dimIds: Seq[Int],
                  atts: Map[String, Any], ncType: Int,
                  vsize: Int, begin: Int)
  case class RFile(numrecs: Int, dims: Seq[(String, Int)],
                   atts: Map[String, Any], vars: Seq[RVar],
                   bytes: Array[Byte]) {
    def data(v: RVar): Array[Double] = {
      val n = v.dimIds.map(dims(_)._2.toLong).product.toInt
      val buf = ByteBuffer.wrap(bytes, v.begin, v.vsize)
        .order(ByteOrder.BIG_ENDIAN)
      (0 until n).toArray.map { _ =>
        v.ncType match {
          case NetCdf.NcDouble => buf.getDouble
          case NetCdf.NcFloat => buf.getFloat.toDouble
          case NetCdf.NcInt => buf.getInt.toDouble
          case t => fail(s"unexpected nc_type $t")
        }
      }
    }
  }

  def read(path: String): RFile = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    assert(buf.get() === 'C'.toByte && buf.get() === 'D'.toByte &&
      buf.get() === 'F'.toByte && buf.get() === 1.toByte)
    val numrecs = buf.getInt
    def name(): String = {
      val n = buf.getInt
      val b = new Array[Byte](n); buf.get(b)
      (0 until (4 - n % 4) % 4).foreach(_ => buf.get())
      new String(b, "UTF-8")
    }
    def attList(): Map[String, Any] = {
      val tag = buf.getInt; val n = buf.getInt
      assert(tag === (if (n == 0) 0 else 0x0C))
      (0 until n).map { _ =>
        val nm = name()
        val t = buf.getInt
        val len = buf.getInt
        val v: Any = t match {
          case NetCdf.NcChar =>
            val b = new Array[Byte](len); buf.get(b)
            (0 until (4 - len % 4) % 4).foreach(_ => buf.get())
            new String(b, "UTF-8")
          case NetCdf.NcDouble =>
            assert(len === 1); buf.getDouble
          case NetCdf.NcInt =>
            assert(len === 1); buf.getInt
          case o => fail(s"unexpected attr nc_type $o")
        }
        nm -> v
      }.toMap
    }
    val dimTag = buf.getInt; val nDims = buf.getInt
    assert(dimTag === (if (nDims == 0) 0 else 0x0A))
    val dims = (0 until nDims).map(_ => (name(), buf.getInt))
    val gatts = attList()
    val varTag = buf.getInt; val nVars = buf.getInt
    assert(varTag === (if (nVars == 0) 0 else 0x0B))
    val vars = (0 until nVars).map { _ =>
      val nm = name()
      val rank = buf.getInt
      val dimIds = (0 until rank).map(_ => buf.getInt)
      val atts = attList()
      RVar(nm, dimIds, atts, buf.getInt, buf.getInt, buf.getInt)
    }
    RFile(numrecs, dims, gatts, vars, bytes)
  }
}
