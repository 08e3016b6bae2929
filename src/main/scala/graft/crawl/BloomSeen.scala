package graft.crawl

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/**
 * Approximate URL-seen prefilter (SURVEY.md §2.8 U4, §4 O5).
 *
 * The reference dedups with an exact in-driver list probe
 * (/root/reference/weibo.py:177,1698-1699) — O(n) per item and bounded by one
 * process's memory. At 10^10 URLs the cheap membership test must be sharded
 * and approximate, with the AUTHORITATIVE answer still the exact anti-join
 * against the seen table: a bloom false positive only costs a lost re-crawl
 * candidate — never a duplicate fetch — and a false negative is impossible,
 * so the prefilter preserves the reference's first-occurrence-wins semantics
 * while cutting the anti-join's probe side by ~the seen-rate.
 *
 * Scale design (executor-resident, nothing O(|seen|) on the driver):
 *  - the engine keeps one filter per immutable seen base (`bloom/v=B` over
 *    `seen/base/v=B`), built where the base is written. Seen has no delete
 *    deltas, so a filter never needs a delete or an insert: keys added after
 *    B are probed exactly in the seen deltas, and a filter that cannot
 *    delete is all the engine needs;
 *  - shard by pmod(url_hash, S); each shard's filter is BUILT executor-side by
 *    [[BloomBuildAgg]] (partial aggregation is map-side, so the shuffle carries
 *    S serialized filters, not 10^10 longs) — the driver only ever collects S
 *    blob rows per build, never the key set; ~1.2 bytes/key at fpp 0.01;
 *  - the filter rides a real `SparkContext.broadcast` handle (torrent
 *    blocks, fetched once per executor and cached deserialized via
 *    [[BloomProbeBroadcast.cachedFilters]]) — never a plan-embedded Literal
 *    re-shipped and re-deserialized per task/batch.
 */
case class BloomBuildAgg(
    child: Expression,
    expectedItems: Long,
    fpp: Double,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BloomFilter] {

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  override def createAggregationBuffer(): BloomFilter =
    BloomFilter.create(expectedItems, fpp)

  override def update(buffer: BloomFilter, input: InternalRow): BloomFilter = {
    val v = child.eval(input)
    if (v != null) buffer.putLong(v.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: BloomFilter, other: BloomFilter): BloomFilter = {
    buffer.mergeInPlace(other); buffer
  }

  override def eval(buffer: BloomFilter): Any = serialize(buffer)

  override def serialize(buffer: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    buffer.writeTo(bos)
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))

  override def withNewMutableAggBufferOffset(o: Int): BloomBuildAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomBuildAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BloomBuildAgg = copy(child = c.head)
  override def prettyName: String = "bloom_build"
}

/**
 * Sharded probe over broadcast filter sets:
 *  - `snapshot`: a Broadcast of the S shard blobs — shipped once (torrent),
 *    deserialized once per executor (static cache keyed by broadcast id),
 *    O(|seen|) bytes live ONLY in executor/block storage, not in the plan
 *    and not in a driver field;
 *  - `recent`: further blob sets with the same shard count, probed after
 *    the snapshot — ALSO real broadcasts (VERDICT r4 item 2: riding the task
 *    closure put their bytes into EVERY task). The engine passes none. The
 *    expression itself serializes to O(1) broadcast handles.
 *
 * Per-row cost: one floorMod + 1 + |recent| filter probes, inside
 * whole-stage codegen.
 */
case class BloomProbeBroadcast(
    snapshot: Broadcast[Array[Array[Byte]]],
    recent: Seq[Broadcast[Array[Array[Byte]]]],
    hash: Expression)
  extends UnaryExpression {

  override def child: Expression = hash
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false

  @transient private lazy val tier1: Array[BloomFilter] =
    BloomProbeBroadcast.cachedFilters(snapshot)

  @transient private lazy val tier2: Array[Array[BloomFilter]] =
    recent.map(BloomProbeBroadcast.cachedFilters).toArray

  def probe(h: Long): Boolean = {
    val t1 = tier1
    if (t1.isEmpty) return false
    val shard = Math.floorMod(h, t1.length.toLong).toInt
    if (t1(shard).mightContainLong(h)) return true
    val t2 = tier2
    var i = 0
    while (i < t2.length) {
      if (t2(i)(shard).mightContainLong(h)) return true
      i += 1
    }
    false
  }

  override def eval(input: InternalRow): Any = {
    val h = hash.eval(input)
    if (h == null) false else probe(h.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomProbe", this, classOf[BloomProbeBroadcast].getName)
    val h = hash.genCode(ctx)
    ev.copy(
      code = code"""
        ${h.code}
        boolean ${ev.value} = ${h.isNull} ? false : $ref.probe(${h.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BloomProbeBroadcast =
    copy(hash = newChild)
  override def prettyName: String = "bloom_probe"
}

object BloomProbeBroadcast {
  /** Deserialize a broadcast's blobs once per executor (not per task): the
    * broadcast manager caches the BYTES per executor; this caches the
    * deserialized filters keyed by broadcast id. Bounded LRU (ADVICE r3: the
    * previous evict-everything-but-mine policy let several live engines in
    * one JVM — or in-flight plans on an old snapshot — evict each other's
    * entries and re-pay the full O(blob) decode per query).
    *
    * Sizing: an engine probes one filter per batch (its seen base's), so
    * the count cap leaves room for many engines and in-flight plans on
    * superseded filters, and a BYTE cap bounds the real resource: a
    * multi-GB pileup of superseded filters is what must be evicted.
    * Eviction drops least-recently-probed entries until both caps hold (but
    * always keeps the most recent few, so one oversized filter still
    * caches). */
  private val MaxCachedEntries = 64
  private val MaxCachedBytes = 2L << 30
  private var cachedBytes = 0L
  private def sizeOf(fs: Array[BloomFilter]): Long = fs.map(_.bitSize() / 8).sum
  private val cache =
    new java.util.LinkedHashMap[Long, Array[BloomFilter]](16, 0.75f, /*accessOrder=*/ true)

  def cachedFilters(bc: Broadcast[Array[Array[Byte]]]): Array[BloomFilter] = {
    cache.synchronized {
      val hit = cache.get(bc.id) // get() refreshes LRU order
      if (hit != null) return hit
    }
    // decode OUTSIDE the lock: a multi-hundred-MB snapshot decode must not
    // serialize every other engine's first probe behind it. A racing thread
    // may decode the same id twice — rare (one per executor per snapshot
    // rotation) and harmless (last put wins, both arrays are equivalent).
    val decoded = bc.value.map(b => BloomFilter.readFrom(new ByteArrayInputStream(b)))
    cache.synchronized {
      val prev = cache.put(bc.id, decoded)
      cachedBytes += sizeOf(decoded) - (if (prev == null) 0L else sizeOf(prev))
      val it = cache.entrySet().iterator()
      while ((cache.size() > MaxCachedEntries ||
          (cachedBytes > MaxCachedBytes && cache.size() > 4)) && it.hasNext) {
        val e = it.next()
        if (e.getKey != bc.id) { cachedBytes -= sizeOf(e.getValue); it.remove() }
      }
    }
    decoded
  }
}

object BloomSeen {
  /** Column API: build one filter per group (executor-side, map-side partials). */
  def bloom_build(c: Column, expectedItems: Long, fpp: Double = 0.01): Column =
    toColumn(BloomBuildAgg(toExpression(c), expectedItems, fpp)
      .toAggregateExpression())

  /** Column API: probe the sharded filter sets (shard = floorMod(hash, S));
    * all are broadcast handles — the plan never embeds blob bytes. */
  def bloom_probe(snapshot: Broadcast[Array[Array[Byte]]],
      recent: Seq[Broadcast[Array[Array[Byte]]]], hashCol: Column): Column =
    toColumn(BloomProbeBroadcast(snapshot, recent, toExpression(hashCol)))
}
