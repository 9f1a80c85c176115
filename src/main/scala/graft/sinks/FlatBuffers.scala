package graft.sinks

import scala.collection.mutable.ArrayBuffer

/** Minimal FlatBuffers wire-format serializer + reader — just enough of
  * Google's published binary format (flatbuffers.dev: uoffset/soffset,
  * vtables, vectors, strings, size-prefixed roots) to write and read
  * FlatGeobuf files. Little-endian throughout.
  *
  * Writer model: build a node tree (tables/vectors/strings), then emit
  * depth-first with every parent BEFORE its children so all uoffsets
  * point forward, and each table's vtable immediately AFTER its inline
  * data (soffset is signed; a negative value is legal and keeps layout
  * single-pass). Inline fields are laid out largest-first for natural
  * alignment.
  */
object FlatBuffers {

  // ------------------------------------------------------ node model

  sealed trait Node
  final case class Str(s: String) extends Node
  final case class VecD(xs: Array[Double]) extends Node
  final case class VecU32(xs: Array[Int]) extends Node
  final case class VecB(xs: Array[Byte]) extends Node
  final case class VecRef(xs: Seq[Node]) extends Node

  sealed trait Field { def id: Int }
  final case class U8(id: Int, v: Int, default: Int = 0) extends Field
  final case class U16(id: Int, v: Int, default: Int = 0) extends Field
  final case class I32(id: Int, v: Int, default: Int = 0) extends Field
  final case class U64(id: Int, v: Long, default: Long = 0) extends Field
  final case class F64(id: Int, v: Double, default: Double = 0) extends Field
  final case class Ref(id: Int, node: Node) extends Field

  final case class Table(fields: Seq[Field]) extends Node

  // ------------------------------------------------------------ emit

  private final class Out {
    val buf = new ArrayBuffer[Byte](4096)
    def pos: Int = buf.length
    def pad(align: Int): Unit = while (buf.length % align != 0) buf += 0
    def u8(v: Int): Unit = buf += (v & 0xFF).toByte
    def u16(v: Int): Unit = { u8(v); u8(v >> 8) }
    def u32(v: Int): Unit = { u16(v); u16(v >> 16) }
    def u64(v: Long): Unit = { u32(v.toInt); u32((v >> 32).toInt) }
    def f64(v: Double): Unit = u64(java.lang.Double.doubleToLongBits(v))
    def patchU32(at: Int, v: Int): Unit = {
      var i = 0
      while (i < 4) { buf(at + i) = ((v >> (8 * i)) & 0xFF).toByte; i += 1 }
    }
  }

  /** Serialize `root` as a size-prefixed flatbuffer. */
  def sizePrefixed(root: Table): Array[Byte] = {
    val out = new Out
    out.u32(0) // size prefix placeholder
    out.u32(0) // root uoffset placeholder
    writeNode(out, root, 4)
    out.patchU32(0, out.pos - 4)
    out.buf.toArray
  }

  /** Emit a node at the current position (aligned), patch the uoffset
    * slot at `patchAt` (u32, value = nodePos - patchAt), recurse into
    * children. */
  private def writeNode(out: Out, node: Node, patchAt: Int): Unit = node match {
    case Str(s) =>
      val bytes = s.getBytes("UTF-8")
      out.pad(4)
      out.patchU32(patchAt, out.pos - patchAt)
      out.u32(bytes.length)
      bytes.foreach(out.buf += _)
      out.u8(0)
    case VecD(xs) =>
      out.pad(4) // length word alignment; elements follow 8-aligned
      if ((out.pos + 4) % 8 != 0) out.u32(0)
      out.patchU32(patchAt, out.pos - patchAt)
      out.u32(xs.length)
      xs.foreach(out.f64)
    case VecU32(xs) =>
      out.pad(4)
      out.patchU32(patchAt, out.pos - patchAt)
      out.u32(xs.length)
      xs.foreach(out.u32)
    case VecB(xs) =>
      out.pad(4)
      out.patchU32(patchAt, out.pos - patchAt)
      out.u32(xs.length)
      xs.foreach(out.buf += _)
    case VecRef(xs) =>
      out.pad(4)
      out.patchU32(patchAt, out.pos - patchAt)
      out.u32(xs.length)
      val slotBase = out.pos
      xs.foreach(_ => out.u32(0))
      xs.zipWithIndex.foreach { case (child, i) =>
        writeNode(out, child, slotBase + 4 * i)
      }
    case t: Table =>
      writeTable(out, t, patchAt)
  }

  private def fieldSize(f: Field): Int = f match {
    case _: U8 => 1
    case _: U16 => 2
    case _: I32 | _: Ref => 4
    case _: U64 | _: F64 => 8
  }

  private def present(f: Field): Boolean = f match {
    case U8(_, v, d) => v != d
    case U16(_, v, d) => v != d
    case I32(_, v, d) => v != d
    case U64(_, v, d) => v != d
    case F64(_, v, d) => v != d
    case Ref(_, _) => true
  }

  private def writeTable(out: Out, t: Table, patchAt: Int): Unit = {
    val fs = t.fields.filter(present)
    val maxAlign = (4 +: fs.map(fieldSize)).max
    out.pad(4)
    if ((out.pos + 4) % maxAlign != 0) {
      // soffset word is 4 bytes; align the widest inline field
      while ((out.pos + 4) % maxAlign != 0) out.u32(0)
    }
    if (patchAt >= 0) out.patchU32(patchAt, out.pos - patchAt)
    val tablePos = out.pos
    out.u32(0) // soffset placeholder
    // inline data, largest-first
    val ordered = fs.sortBy(f => (-fieldSize(f), f.id))
    val slotOf = scala.collection.mutable.Map[Int, Int]()
    val refPatch = ArrayBuffer[(Node, Int)]()
    ordered.foreach { f =>
      out.pad(fieldSize(f))
      slotOf(f.id) = out.pos - tablePos
      f match {
        case U8(_, v, _) => out.u8(v)
        case U16(_, v, _) => out.u16(v)
        case I32(_, v, _) => out.u32(v)
        case U64(_, v, _) => out.u64(v)
        case F64(_, v, _) => out.f64(v)
        case Ref(_, node) => refPatch += ((node, out.pos)); out.u32(0)
      }
    }
    val tableEnd = out.pos
    // vtable immediately after
    out.pad(2)
    val vtPos = out.pos
    val nSlots = if (fs.isEmpty) 0 else fs.map(_.id).max + 1
    out.u16(4 + 2 * nSlots)
    out.u16(tableEnd - tablePos)
    (0 until nSlots).foreach(id => out.u16(slotOf.getOrElse(id, 0)))
    // soffset = tablePos - vtPos (negative: vtable after table)
    out.patchU32(tablePos, tablePos - vtPos)
    // children after the vtable
    refPatch.foreach { case (node, at) => writeNode(out, node, at) }
  }

  // ---------------------------------------------------------- reader

  /** Cursor over a table in a finished buffer. */
  final class Tab(val bytes: Array[Byte], val pos: Int) {
    private def u16At(p: Int): Int =
      (bytes(p) & 0xFF) | ((bytes(p + 1) & 0xFF) << 8)
    private def i32At(p: Int): Int = {
      var v = 0
      var i = 0
      while (i < 4) { v |= (bytes(p + i) & 0xFF) << (8 * i); i += 1 }
      v
    }
    private def i64At(p: Int): Long = {
      var v = 0L
      var i = 0
      while (i < 8) { v |= (bytes(p + i) & 0xFFL) << (8 * i); i += 1 }
      v
    }
    private val vt = pos - i32At(pos)
    private val vtSlots = (u16At(vt) - 4) / 2

    private def fieldPos(id: Int): Int =
      if (id >= vtSlots) 0
      else {
        val off = u16At(vt + 4 + 2 * id)
        if (off == 0) 0 else pos + off
      }

    def u8(id: Int, default: Int = 0): Int = {
      val p = fieldPos(id); if (p == 0) default else bytes(p) & 0xFF
    }
    def i32(id: Int, default: Int = 0): Int = {
      val p = fieldPos(id); if (p == 0) default else i32At(p)
    }
    def u64(id: Int, default: Long = 0): Long = {
      val p = fieldPos(id); if (p == 0) default else i64At(p)
    }
    def f64(id: Int, default: Double = 0): Double = {
      val p = fieldPos(id)
      if (p == 0) default else java.lang.Double.longBitsToDouble(i64At(p))
    }
    private def indirect(id: Int): Int = {
      val p = fieldPos(id); if (p == 0) 0 else p + i32At(p)
    }
    def str(id: Int): String = {
      val p = indirect(id)
      if (p == 0) null
      else new String(bytes, p + 4, i32At(p), "UTF-8")
    }
    def table(id: Int): Tab = {
      val p = indirect(id); if (p == 0) null else new Tab(bytes, p)
    }
    def vecLen(id: Int): Int = {
      val p = indirect(id); if (p == 0) 0 else i32At(p)
    }
    def vecD(id: Int): Array[Double] = {
      val p = indirect(id)
      if (p == 0) Array.empty
      else Array.tabulate(i32At(p))(i =>
        java.lang.Double.longBitsToDouble(i64At(p + 4 + 8 * i)))
    }
    def vecU32(id: Int): Array[Int] = {
      val p = indirect(id)
      if (p == 0) Array.empty
      else Array.tabulate(i32At(p))(i => i32At(p + 4 + 4 * i))
    }
    def vecBytes(id: Int): Array[Byte] = {
      val p = indirect(id)
      if (p == 0) Array.empty
      else java.util.Arrays.copyOfRange(bytes, p + 4, p + 4 + i32At(p))
    }
    def vecTable(id: Int, i: Int): Tab = {
      val p = indirect(id)
      val slot = p + 4 + 4 * i
      new Tab(bytes, slot + i32At(slot))
    }
  }

  /** Root table of a size-prefixed flatbuffer starting at `at`;
    * returns (table, end position). */
  def readSizePrefixed(bytes: Array[Byte], at: Int): (Tab, Int) = {
    var size = 0
    var i = 0
    while (i < 4) { size |= (bytes(at + i) & 0xFF) << (8 * i); i += 1 }
    var root = 0
    i = 0
    while (i < 4) { root |= (bytes(at + 4 + i) & 0xFF) << (8 * i); i += 1 }
    (new Tab(bytes, at + 4 + root), at + 4 + size)
  }
}
