package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.tools.PlanCanon

/** Pins the normalization scope of the shared plan-hash pipeline —
  * what the hash is allowed to ignore (run-varying ids, AQE build-side
  * flips, broadcast-mode slot positions) and what it must keep seeing.
  */
class PlanCanonSpec extends AnyFunSuite {

  test("broadcast-mode input ordinals are stripped ONLY on broadcast lines (ADVICE r5)") {
    val a = "+- BroadcastExchange HashedRelationBroadcastMode(List(input[0, bigint, true], input[1, bigint, true]),false)"
    val b = "+- BroadcastExchange HashedRelationBroadcastMode(List(input[1, bigint, true], input[2, bigint, true]),false)"
    assert(PlanCanon.sha(a) == PlanCanon.sha(b),
      "AQE exchange-reuse slot shifts on the build row must hash identically")

    // the same ordinal change anywhere ELSE is a real slot choice — a
    // regression that re-keys on a different column of the same type
    // must keep moving the hash
    val c = "+- SortAggregate(key=[input[0, bigint, true]])"
    val d = "+- SortAggregate(key=[input[1, bigint, true]])"
    assert(PlanCanon.sha(c) != PlanCanon.sha(d),
      "non-broadcast BoundReference ordinals must stay visible to the hash")
  }

  test("serving-table file counts are stripped ONLY for target/ scans") {
    val a = "FileScan parquet [k#1L] Location: InMemoryFileIndex(9 paths)[file:/root/repo/target/blooms/events_pk/__gen=3/..."
    val b = "FileScan parquet [k#1L] Location: InMemoryFileIndex(11 paths)[file:/root/repo/target/blooms/events_pk/__gen=5/..."
    assert(PlanCanon.sha(a) == PlanCanon.sha(b),
      "serving-table build history (file counts, gens) must hash identically")

    // the same count change on a SOURCE scan is a real read-width
    // difference the hash must keep seeing
    val c = "FileScan parquet [k#1L] Location: InMemoryFileIndex(1 paths)[file:/root/testdata/sf0.1/lineitem.parquet]"
    val d = "FileScan parquet [k#1L] Location: InMemoryFileIndex(3 paths)[file:/root/testdata/sf0.1/lineitem.parquet]"
    assert(PlanCanon.sha(c) != PlanCanon.sha(d),
      "source-scan file counts must stay visible to the hash")
  }

  test("a target/ scan hashes the same from checkouts at paths of different lengths") {
    // Spark abbreviates each scan metadata field to spark.sql.maxMetadataStringLength
    // (100) characters, so the visible part of the table's path shrinks as the root grows
    def render(root: String, schema: String = "struct<k:bigint,n:bigint>") =
      "FileScan parquet [k#1L,n#2L] Batched: true, DataFilters: [], Format: Parquet, Location: " +
        org.apache.commons.lang3.StringUtils.abbreviate(
          s"InMemoryFileIndex(1 paths)[file:$root/target/mv/rollup_root_testdata_sf0.01/__gen=3]", 100) +
        s", PartitionFilters: [], PushedFilters: [], ReadSchema: $schema"
    val short = render("/home/ci/graft")
    val long = render("/srv/builds/a-checkout-at-a-longer-path/graft")
    assert(short != long, "the two renderings differ in the path")
    assert(PlanCanon.sha(short) == PlanCanon.sha(long))
    assert(PlanCanon.sha(short) != PlanCanon.sha(render("/home/ci/graft", "struct<k:bigint>")),
      "the scan's schema stays visible to the hash")
  }

  test("a ManifestFileIndex target/ scan hashes the same from checkouts at paths of different lengths") {
    def render(root: String) =
      "FileScan parquet [id#1,ver#2L] Batched: true, DataFilters: [], Format: Parquet, Location: " +
        org.apache.commons.lang3.StringUtils.abbreviate(
          s"ManifestFileIndex(1 paths)[file:$root/target/rtdw/dws_sku/base]", 100) +
        ", PartitionFilters: [], PushedFilters: [], ReadSchema: struct<id:string,ver:bigint>"
    val short = render("/home/ci/graft")
    val long = render("/srv/builds/a-checkout-at-a-longer-path/graft")
    assert(short != long, "the two renderings differ in the path")
    assert(PlanCanon.sha(short) == PlanCanon.sha(long))

    // keyed on any file index, the rule still leaves source scans alone
    val c = "FileScan parquet [k#1L] Location: ManifestFileIndex(1 paths)[file:/data/tpch/sf0.1/lineitem.parquet]"
    val d = "FileScan parquet [k#1L] Location: ManifestFileIndex(3 paths)[file:/data/tpch/sf0.1/lineitem.parquet]"
    assert(PlanCanon.sha(c) != PlanCanon.sha(d),
      "source-scan file counts must stay visible to the hash")
  }

  test("run-varying ids normalize; structure does not") {
    val p1 = "*(3) HashAggregate(keys=[k#12], functions=[sum(v#13)])"
    val p2 = "*(5) HashAggregate(keys=[k#99], functions=[sum(v#101)])"
    assert(PlanCanon.sha(p1) == PlanCanon.sha(p2))
    val q = "*(3) HashAggregate(keys=[k#12], functions=[max(v#13)])"
    assert(PlanCanon.sha(p1) != PlanCanon.sha(q))
  }
}
