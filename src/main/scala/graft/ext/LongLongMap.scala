package graft.ext

/** Minimal primitive long→long hash map: the parent table of
  * [[UnionFind]], which the connected-components closure runs per pair
  * partition and in its single finishing task (ADVICE r15). Open
  * addressing, linear probing, power-of-two
  * capacity, ≤50% load. Per-slot cost is 8+8+1 = 17 bytes (two primitive
  * arrays + an occupancy flag) versus ~80-100 bytes/entry for a boxed
  * `mutable.HashMap[Long, Long]`, which is what makes the documented
  * local-closure memory ceiling honest. No sentinel key: occupancy is an
  * explicit flag array, so every long (including 0 and Long.MinValue) is
  * a legal key. Not thread-safe — one instance per task. */
private[graft] final class LongLongMap(initialCapacity: Int = 1 << 10) {
  private var cap = {
    var c = 16
    while (c < initialCapacity) c <<= 1
    c
  }
  private var ks = new Array[Long](cap)
  private var vs = new Array[Long](cap)
  private var occ = new Array[Boolean](cap)
  private var n = 0

  def size: Int = n

  // Stafford variant 13 mix — spreads consecutive ids across slots
  private def mix(k: Long): Int = {
    var z = k
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    (z ^ (z >>> 31)).toInt
  }

  private def slot(k: Long): Int = {
    val mask = cap - 1
    var i = mix(k) & mask
    while (occ(i) && ks(i) != k) i = (i + 1) & mask
    i
  }

  def contains(k: Long): Boolean = occ(slot(k))

  def getOrElse(k: Long, default: Long): Long = {
    val i = slot(k)
    if (occ(i)) vs(i) else default
  }

  def update(k: Long, v: Long): Unit = {
    if ((n + 1) * 2 > cap) grow()
    val i = slot(k)
    if (!occ(i)) { occ(i) = true; ks(i) = k; n += 1 }
    vs(i) = v
  }

  private def grow(): Unit = {
    val (ok, ov, oo, oc) = (ks, vs, occ, cap)
    cap <<= 1
    ks = new Array[Long](cap); vs = new Array[Long](cap)
    occ = new Array[Boolean](cap)
    var i = 0
    while (i < oc) {
      if (oo(i)) { val j = slot(ok(i)); occ(j) = true; ks(j) = ok(i); vs(j) = ov(i) }
      i += 1
    }
  }

  /** Copy of the current key set — safe to iterate while values mutate. */
  def keysSnapshot: Array[Long] = {
    val out = new Array[Long](n)
    var i = 0; var j = 0
    while (i < cap) {
      if (occ(i)) { out(j) = ks(i); j += 1 }
      i += 1
    }
    out
  }
}
