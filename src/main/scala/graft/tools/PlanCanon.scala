package graft.tools

/** The ONE normalization pipeline behind plan hashing (ADVICE r4):
  * [[graft.Bench]] hashes `sha(plan)` into the bench record's
  * `plan_sha`, and [[PlanDump]] prints `normalize`/`canonical` of the
  * same plan — sharing this object is what makes PlanDump's diffs
  * show exactly (and only) differences the hash sees.
  *
  * `normalize` strips run-varying ids: expression #ids, plan_id,
  * object addresses, AQE stage numbers, codegen span ids, lambda
  * class suffixes, and the build side of a BHJ where both sides fit
  * (AQE puts whichever stage materialized first on the build side).
  * `canonical` then sorts the stripped node lines — the tree RENDERING
  * is order-dependent under AQE child flips, but the node multiset
  * still catches every regression the hash exists for (new exchange,
  * lost pushdown, BNLJ, extra scan).
  */
object PlanCanon {

  private val FileIndexRe = "\\w+FileIndex\\(".r

  def normalize(plan: String): String = {
    val base = plan
      .replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("@[0-9a-fA-F]+", "@")
      .replaceAll("id=#?\\d+", "id=")
      .replaceAll("QueryStage \\d+", "QueryStage")
      .replaceAll("\\*\\(\\d+\\)", "*")
      .replaceAll("\\$\\$?Lambda\\$\\d+/0x[0-9a-fA-F]+", "\\$Lambda")
      .replaceAll("BuildLeft|BuildRight", "Build")
      // Upsert MVCC generation directories: a rebuild of a serving
      // snapshot (content-keyed ensure, compaction) bumps __gen=N in
      // the scan Location without changing the plan's structure — the
      // same table identity, a different snapshot. Structural changes
      // (more files, different pruning) still show through the file
      // counts and operator lines the hash keeps.
      .replaceAll("__gen=\\d+", "__gen=")
      // Field truncation cuts at a fixed WIDTH, so the partial token
      // before "..." shifts with run-varying expression-id digits
      // (seen live: DataFilters ending `l_su...` vs `l_supp...` alone
      // flipped a sha). Collapse the dangling partial token; complete
      // tokens before it — and path segments across "/" — survive.
      .replaceAll("[\\w#().$]*\\.\\.\\.", "...")
    // broadcast-mode key ordinals are physical slot positions in the
    // build row — AQE exchange reuse legitimately shifts them without
    // changing which columns are keyed (seen live: a bench run hashed
    // differently on input[0,1] vs input[1,2] alone). Scoped to the
    // broadcast-mode lines themselves (ADVICE r5): a BoundReference
    // ordinal anywhere ELSE in the plan is a real slot choice the
    // hash must keep seeing.
    base.linesIterator.map { l0 =>
      // file COUNTS of scans over target/-rooted SERVING tables (Upsert
      // snapshots, bloom-pruned lookups, IVF cells) vary with the
      // table's build/compaction history in this container, not with
      // the plan (seen live: j_bloom_point_lookup hashed differently on
      // InMemoryFileIndex(9 paths) vs (11 paths) alone — both healthy
      // bloom prunes). Source-table scans under the sf dirs KEEP their
      // counts: a lost prune there is a regression the hash must see;
      // serving-read narrowing is pinned by UpsertSpec/ZonesSpec file
      // assertions instead.
      //
      // Their paths are absolute (Hadoop qualifies the relative table
      // dir against the working directory), and Spark cuts the Location
      // field at a fixed width, so how much of the repo-relative part
      // shows depends on the length of the checkout's path (seen live:
      // mv_rollup_rewrite hashed three ways from three checkouts). The
      // path list becomes `target/...`: the scan's columns and schema
      // name the table.
      // Keyed on any file index: Spark's InMemoryFileIndex and the
      // ManifestFileIndex the Upsert and merge-on-read reads go through.
      val l =
        if (FileIndexRe.findFirstIn(l0).isDefined && l0.contains("target/"))
          l0.replaceAll("(\\w+FileIndex)\\(\\d+ paths\\)", "$1( paths)")
            .replaceAll("(Location: \\w+\\(\\d* paths\\)\\[).*?(?=, PartitionFilters: |$)", "$1target/...]")
        else l0
      if (l.contains("HashedRelationBroadcastMode") || l.contains("BroadcastExchange"))
        // ordinals AND nullability of broadcast-mode keys are physical
        // properties of whichever exchange AQE reused, not of the plan
        // (seen live: input[, bigint, true] vs [, bigint, false])
        l.replaceAll("input\\[\\d+", "input[")
          .replaceAll("(input\\[[^\\]]*), (?:true|false)\\]", "$1]")
      else l
    }.mkString("\n")
  }

  /** Sorted canonical node lines of a normalized plan — the exact
    * string [[sha]] hashes.
    */
  def canonical(plan: String): String =
    normalize(plan).linesIterator
      .map(_.replaceAll("^[\\s:+|-]*", "")).filter(_.nonEmpty)
      .toSeq.sorted.mkString("\n")

  /** 48-bit hex SHA-1 of [[canonical]] — the bench record's plan_sha. */
  def sha(plan: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-1")
      .digest(canonical(plan).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(6).map(b => f"$b%02x").mkString
  }
}
