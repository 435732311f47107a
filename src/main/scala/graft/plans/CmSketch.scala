package graft.plans

import scala.collection.mutable

import graft.functions.HashFns

/** The count-min family's algebra over sparse cells idx → count, with
  * idx = row·width + bucket on the shared hash family
  * ([[HashFns.minhashParams]] coefficients, exact integer arithmetic —
  * the cells the DataFrame build
  * [[graft.operators.SlidingSketches.cmCellRows]] lands on). Cells are
  * additive and canonical, so merge is exact and every surface — the
  * EH bucket merge ([[graft.operators.SlidingSketches.cmSlidingCells]])
  * and the monitor's prefold and fold
  * ([[graft.streaming.SlidingMonitor.cmQuantumMonitor]]) — answers
  * cell for cell what a batch build answers. No Catalyst aggregate: the
  * batch build is an ordinary groupBy. */
final case class CmSketch(depth: Int, width: Int) extends Sketch[CmSketch.Cells] {
  require(depth >= 1 && width >= 1, s"need depth, width >= 1, got $depth x $width")

  import CmSketch.Cells

  private val params = HashFns.minhashParams(depth)

  def empty(): Cells = mutable.HashMap.empty[Long, Long]

  /** One event's 31-bit item hash x: +1 in each row's cell. x is never
    * NULL — [[graft.operators.Sketches]]' key hash maps a NULL item to
    * a fixed key, on the batch and streaming paths alike. */
  def insert(s: Cells, x: Long): Cells = {
    params.foreach { case (row, a, b) =>
      add(s, row.toLong * width + ((a * x + b) % HashFns.P) % width, 1L)
    }
    s
  }

  /** The one cell sum. */
  def add(s: Cells, idx: Long, c: Long): Cells = {
    s.update(idx, s.getOrElse(idx, 0L) + c)
    s
  }

  def merge(a: Cells, b: Cells): Cells = {
    b.foreach { case (idx, c) => add(a, idx, c) }
    a
  }

  /** idx ascending. */
  def result(s: Cells): Seq[(Long, Long)] = s.toSeq.sortBy(_._1)

  /** All depth·width counts, absent cells 0. */
  def dense(s: Cells): Array[Long] = {
    val out = new Array[Long](depth * width)
    s.foreach { case (idx, c) => out(idx.toInt) += c }
    out
  }

  def encode(s: Cells): Array[Byte] =
    Sketch.encodeAll(s, 16) { case (bb, (idx, c)) => bb.putLong(idx).putLong(c) }
  def decode(bytes: Array[Byte]): Cells =
    Sketch.decodeAll(bytes, empty())((s, bb) => s.update(bb.getLong, bb.getLong))
}

object CmSketch {
  type Cells = mutable.HashMap[Long, Long]
}
