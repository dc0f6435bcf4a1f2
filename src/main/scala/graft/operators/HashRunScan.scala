package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Streaming run-scan over hash-clustered rows: emits the distinct rows of
  * every `hashed_row` run that appears on exactly one side.
  *
  * Physical shape: `repartition(hashed_row)` + `sortWithinPartitions`
  * (both Catalyst-planned exchanges), then one imperative pass per
  * partition. No built-in operator expresses "per-run side-uniformity with
  * inline dedup" without buffering per-group state for millions of
  * near-unique groups, so the final scan is a `mapPartitions` over
  * InternalRows — memory per run is bounded by DISTINCT rows sharing a
  * hash (i.e. hash collisions), not run length: duplicate rows collapse
  * into the dedup set as they stream by, and only a row the set does not
  * hold yet is copied.
  *
  * Measured against the built-in plan with the same single exchange
  * (`min`/`max(observed_in)` over `Window.partitionBy("hashed_row")`, a
  * filter, then `dropDuplicates()`), on a 4-core host under GraftSession
  * settings: warm `compareAll` on the perfbench diff_sf01 seed-1 fixture
  * took medians of 1.59 and 1.85 s over two 8-op runs with the window,
  * against 1.11-1.29 s over three runs with this scan; one perfbench
  * diff_sf01 run each gave `run_s` 2.60 vs 1.45 s and `peak_rss_mb` 1651
  * vs 1477.
  */
object HashRunScan {

  def apply(tagged: DataFrame): DataFrame = {
    val spark = tagged.sparkSession
    val parted = tagged
      .repartition(col("hashed_row"))
      .sortWithinPartitions("hashed_row")
    val schema = parted.schema
    val hIdx = schema.fieldIndex("hashed_row")
    val oIdx = schema.fieldIndex("observed_in")

    val rdd = parted.queryExecution.toRdd.mapPartitions { it =>
      new Iterator[InternalRow] {
        // `it` reuses row objects: copy anything retained across next()
        private var cur: UnsafeRow =
          if (it.hasNext) it.next().asInstanceOf[UnsafeRow].copy() else null
        private var out: Iterator[InternalRow] = Iterator.empty

        private def advance(): Unit = {
          while (!out.hasNext && cur != null) {
            val runHash = cur.getUTF8String(hIdx)
            val firstSide = cur.getUTF8String(oIdx)
            var singleSide = true
            val distinctRows = new java.util.LinkedHashSet[UnsafeRow]()
            distinctRows.add(cur)
            var done = false
            while (!done) {
              if (it.hasNext) {
                val next = it.next().asInstanceOf[UnsafeRow]
                if (next.getUTF8String(hIdx).equals(runHash)) {
                  // `next` is reused: copy only a row the set does not hold
                  if (!next.getUTF8String(oIdx).equals(firstSide)) singleSide = false
                  else if (singleSide && !distinctRows.contains(next))
                    distinctRows.add(next.copy())
                } else {
                  cur = next.copy()
                  done = true
                }
              } else {
                cur = null
                done = true
              }
            }
            if (singleSide) {
              val arr = distinctRows.toArray(new Array[UnsafeRow](distinctRows.size))
              out = arr.iterator.map(_.asInstanceOf[InternalRow])
            }
          }
        }

        override def hasNext: Boolean = { advance(); out.hasNext }
        override def next(): InternalRow = { advance(); out.next() }
      }
    }
    ColumnBridge.internalCreateDataFrame(spark, rdd, schema)
  }
}
