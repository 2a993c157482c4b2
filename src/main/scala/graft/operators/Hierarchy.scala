package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData

/** Parent-child hierarchy dimension engine.
  *
  * Re-expresses the reference's `HierarchyDimension`
  * (reference: classes/hierarchy_dimension_table.py:47-228) Spark-first.
  * The reference materialises three DuckDB tables via SQLAlchemy
  * recursive CTEs; Spark has no recursive CTE. Hierarchy dimensions are
  * O(nodes) — tiny next to facts even at 100 TB — so the leveling pass
  * (flags, level numbers, root paths) runs as ONE narrow single-task
  * `mapPartitions` over the node table: a single Spark job instead of a
  * per-level join loop whose every action is a full job launch. (Same
  * rationale as the single-task union-find in
  * [[Dedup.connectedComponents]]: the payload stays on an executor; the
  * `maxNodes` guard fails fast if a fact-sized table sneaks in.) The
  * ancestor–descendant closure then needs NO recursion at all: each
  * node's root-path is an array column, so the closure is a single
  * `explode` — a narrow, shuffle-free pass.
  *
  * Scale: all derivations happen on the dim side; fact-side queries
  * join the closure with the strategy the dimension picks (see
  * [[aggregationDim]]). The only global
  * operation is the DFS `node_sort_order` row_number, again dim-sized.
  *
  * @param nodes       parent-child node table; one row per node
  * @param nodeIdCol   primary-key column (reference: node_id)
  * @param parentIdCol self-referencing FK column; null ⇒ root
  * @param levelFields node attribute columns carried into the path
  *                    structs and flattened per level
  * @param levelColumns how many `level_{i}_*` column families to emit
  *                    (10, matching the reference's hardcoded width —
  *                    levels beyond the hierarchy depth are null)
  * @param maxDepth    safety bound on hierarchy depth (cycles / bad
  *                    data): nodes deeper than the bound — or on a
  *                    parent cycle, or under a missing parent — are
  *                    dropped from the leveled dim
  * @param maxNodes    strategy threshold on the dimension size: at or
  *                    under it every derivation is deliberately
  *                    dim-sized (single-task leveling, broadcast
  *                    closure) — the fast path for real hierarchies;
  *                    above it the engine auto-switches to the
  *                    distributed BFS leveling + shuffle-join closure
  *                    (see [[enrichedDistributed]]), so a 100M-node
  *                    hierarchy levels cluster-parallel instead of
  *                    serializing through one task
  * @param knownDepth  exact hierarchy depth if the caller knows it
  *                    (> 0): tightens the depth bound below `maxDepth`
  */
class HierarchyDimension(
    nodes: DataFrame,
    nodeIdCol: String = "node_id",
    parentIdCol: String = "parent_node_id",
    levelFields: Seq[String] = Seq("node_id", "node_natural_key", "node_name", "level_name"),
    levelColumns: Int = 10,
    maxDepth: Int = 16,
    knownDepth: Int = -1,
    maxNodes: Long = 10_000_000L) {

  private val depthBound: Int = if (knownDepth > 0) knownDepth else maxDepth

  /** The DFS sort order can fuse into the single-task leveling pass
    * only when every level field renders to JSON bit-identically to
    * Spark's `to_json` under this class's own renderer — true for the
    * string/integral/boolean types hierarchies actually use. Anything
    * else (floats, nested types) falls back to the legacy
    * to_json-window derivation, trading one extra dim-sized job for
    * guaranteed parity.
    */
  private val fusedSortable: Boolean = {
    val inSchema = nodes.schema
    levelFields.forall { f =>
      inSchema(inSchema.fieldIndex(f)).dataType match {
        case StringType | LongType | IntegerType | ShortType | ByteType |
             BooleanType => true
        case _ => false
      }
    }
  }

  /** Nodes + flags + leveling + root-path arrays, in ONE single-task
    * narrow pass (the node table is collapsed to one partition — the
    * dim-sized contract). Per node:
    *   - `is_root`  — parent pointer null
    *     (reference: hierarchy_dimension_table.py:96-99)
    *   - `is_leaf`  — never appears as another node's parent
    *     (reference: hierarchy_dimension_table.py:101-107)
    *   - `level_number`, `path` — 1-based depth and the root→node
    *     array of `levelFields` structs (reference's recursive CTE,
    *     hierarchy_dimension_table.py:109-135); null for nodes dropped
    *     by the depth bound / cycles / missing parents
    */
  /** Strategy switch: ONE dim-sized count decides the leveling path.
    * At or under `maxNodes` the single-task pass wins (one narrow job,
    * no per-level scheduling); above it — a 100M-node customer
    * hierarchy — the same derivation runs as a distributed BFS join
    * loop ([[enrichedDistributed]]) instead of failing fast. The count
    * is paid once per dimension instance (lazy), and dims are
    * session-cached by the registry.
    */
  private lazy val useDistributedLeveling: Boolean = nodes.count() > maxNodes

  private lazy val enriched: DataFrame =
    if (useDistributedLeveling) enrichedDistributed else enrichedSingleTask

  private lazy val enrichedSingleTask: DataFrame = {
    val spark = nodes.sparkSession
    val inSchema = nodes.schema
    val nCols = inSchema.length
    val colTypes = inSchema.fields.map(_.dataType)
    val idIdx = inSchema.fieldIndex(nodeIdCol)
    val parentIdx = inSchema.fieldIndex(parentIdCol)
    val fieldIdxs = levelFields.map(inSchema.fieldIndex).toArray
    val pathStructType = StructType(
      fieldIdxs.map(i => StructField(inSchema(i).name, colTypes(i), inSchema(i).nullable)))
    val outSchema = StructType(inSchema.fields ++ Seq(
      StructField("is_root", BooleanType, nullable = false),
      StructField("is_leaf", BooleanType, nullable = false),
      StructField("level_number", IntegerType, nullable = true),
      StructField("path", ArrayType(pathStructType, containsNull = false), nullable = true),
      StructField("node_sort_order", LongType, nullable = true)))
    val (bound, maxN, fused) = (depthBound, maxNodes, fusedSortable)
    val fieldNames = fieldIdxs.map(i => inSchema(i).name)
    val rdd = nodes.coalesce(1).queryExecution.toRdd.mapPartitions { it =>
      // buffer + copy: UnsafeRow iterators reuse their backing buffer
      val rows = new scala.collection.mutable.ArrayBuffer[InternalRow]()
      it.foreach { r =>
        rows += r.copy()
        if (rows.length > maxN) throw new IllegalArgumentException(
          s"hierarchy node table exceeds maxNodes=$maxN; the dimension " +
            "derivation is designed for dimension-sized inputs — raise " +
            "maxNodes explicitly if this is intentional")
      }
      val n = rows.length
      val idType = colTypes(idIdx)
      val parentType = colTypes(parentIdx)
      val byId = new java.util.HashMap[Any, Integer](n * 2)
      val parentIds = new java.util.HashSet[Any](n * 2)
      val parentOf = new Array[Any](n)
      var i = 0
      while (i < n) {
        val row = rows(i)
        val id = if (row.isNullAt(idIdx)) null else row.get(idIdx, idType)
        if (id != null) byId.put(id, i)
        val p = if (row.isNullAt(parentIdx)) null else row.get(parentIdx, parentType)
        parentOf(i) = p
        if (p != null) parentIds.add(p)
        i += 1
      }
      // memoized leveling with cycle detection: 0 = unvisited,
      // IN_PROGRESS = on the current parent chain, DROPPED = orphan
      // subtree / cycle, else the 1-based level
      val IN_PROGRESS = Int.MinValue
      val DROPPED = -1
      val level = new Array[Int](n)
      // walk up pushing unresolved nodes onto `chain` until an anchor
      // is found: a node with a known level, a root (level 1), a cycle
      // (IN_PROGRESS re-visit), or a missing parent. The anchor itself
      // is never on the chain, so chain(j)'s level is anchor + its
      // distance from the anchor.
      def resolve(start: Int): Unit = {
        var cur = start
        val chain = new scala.collection.mutable.ArrayBuffer[Int]()
        var anchorLevel = DROPPED
        var walking = true
        while (walking) {
          val l = level(cur)
          if (l != 0 && l != IN_PROGRESS) { anchorLevel = l; walking = false }
          else if (l == IN_PROGRESS) { anchorLevel = DROPPED; walking = false } // cycle
          else if (parentOf(cur) == null) { level(cur) = 1; anchorLevel = 1; walking = false }
          else {
            level(cur) = IN_PROGRESS
            chain += cur
            val pi = byId.get(parentOf(cur))
            if (pi == null) { anchorLevel = DROPPED; walking = false } // missing parent
            else cur = pi.intValue()
          }
        }
        var j = chain.length - 1
        while (j >= 0) {
          level(chain(j)) =
            if (anchorLevel == DROPPED) DROPPED
            else anchorLevel + (chain.length - j)
          j -= 1
        }
      }
      i = 0
      while (i < n) { if (level(i) == 0) resolve(i); i += 1 }
      def pathOf(idx: Int): GenericArrayData = {
        val depth = level(idx)
        val structs = new Array[Any](depth)
        var cur = idx
        var d = depth - 1
        while (d >= 0) {
          val row = rows(cur)
          val vals = new Array[Any](fieldIdxs.length)
          var f = 0
          while (f < fieldIdxs.length) {
            val ci = fieldIdxs(f)
            vals(f) = if (row.isNullAt(ci)) null else row.get(ci, colTypes(ci))
            f += 1
          }
          structs(d) = new GenericInternalRow(vals)
          if (d > 0) cur = byId.get(parentOf(cur)).intValue()
          d -= 1
        }
        new GenericArrayData(structs)
      }
      // DFS sort order, fused (see fusedSortable): rank kept nodes by
      // the '/'-joined per-node JSONs of their root path, compared as
      // UTF-8 BYTES — exactly the sort key of the legacy
      // `row_number over (order by array_join(transform(path, to_json)))`
      // window (UTF8String orders binary; DuckDB's VARCHAR collation is
      // binary too). Stable sort ⇒ equal keys keep input order, same
      // as the window over the same single-partition input.
      val sortOrder = new Array[Long](n)
      if (fused) {
        val jsonMemo = new Array[String](n)
        def jsonOf(idx: Int): String = {
          if (jsonMemo(idx) == null) {
            val row = rows(idx)
            val sb = new java.lang.StringBuilder(64)
            def str(s: String): Unit = {
              sb.append('"')
              var i = 0
              while (i < s.length) {
                val c = s.charAt(i)
                c match {
                  case '"' => sb.append("\\\"")
                  case '\\' => sb.append("\\\\")
                  case '\b' => sb.append("\\b")
                  case '\t' => sb.append("\\t")
                  case '\n' => sb.append("\\n")
                  case '\f' => sb.append("\\f")
                  case '\r' => sb.append("\\r")
                  case ctl if ctl < 0x20 =>
                    sb.append("\\u")
                    sb.append(f"${ctl.toInt}%04X")
                  case ch => sb.append(ch)
                }
                i += 1
              }
              sb.append('"')
            }
            sb.append('{')
            var f = 0
            while (f < fieldIdxs.length) {
              if (f > 0) sb.append(',')
              str(fieldNames(f))
              sb.append(':')
              val ci = fieldIdxs(f)
              if (row.isNullAt(ci)) sb.append("null")
              else colTypes(ci) match {
                case StringType => str(row.getUTF8String(ci).toString)
                case LongType => sb.append(row.getLong(ci))
                case IntegerType => sb.append(row.getInt(ci))
                case ShortType => sb.append(row.getShort(ci).toInt)
                case ByteType => sb.append(row.getByte(ci).toInt)
                case BooleanType => sb.append(row.getBoolean(ci))
                case other => throw new IllegalStateException(
                  s"fused sort on unsupported type $other") // unreachable: fusedSortable
              }
              f += 1
            }
            sb.append('}')
            jsonMemo(idx) = sb.toString
          }
          jsonMemo(idx)
        }
        val kept = (0 until n).filter(i => level(i) > 0 && level(i) <= bound)
        val keys = kept.map { idx =>
          val parts = new Array[String](level(idx))
          var cur = idx
          var d = level(idx) - 1
          while (d >= 0) {
            parts(d) = jsonOf(cur)
            if (d > 0) cur = byId.get(parentOf(cur)).intValue()
            d -= 1
          }
          parts.mkString("/").getBytes(java.nio.charset.StandardCharsets.UTF_8) -> idx
        }
        val ranked = keys.sortWith { case ((a, _), (b, _)) =>
          java.util.Arrays.compareUnsigned(a, b) < 0
        }
        var r = 0
        while (r < ranked.length) { sortOrder(ranked(r)._2) = r + 1L; r += 1 }
      }
      rows.iterator.zipWithIndex.map { case (row, idx) =>
        val out = new Array[Any](nCols + 5)
        var c = 0
        while (c < nCols) {
          out(c) = if (row.isNullAt(c)) null else row.get(c, colTypes(c))
          c += 1
        }
        val id = if (row.isNullAt(idIdx)) null else row.get(idIdx, idType)
        out(nCols) = parentOf(idx) == null                        // is_root
        out(nCols + 1) = id == null || !parentIds.contains(id)    // is_leaf
        val kept = level(idx) > 0 && level(idx) <= bound
        out(nCols + 2) = if (kept) level(idx) else null           // level_number
        out(nCols + 3) = if (kept) pathOf(idx) else null          // path
        out(nCols + 4) =
          if (fused && kept) sortOrder(idx) else null             // node_sort_order
        new GenericInternalRow(out): InternalRow
      }
    }
    graft.Artifacts.pin(org.apache.spark.sql.GraftColumnBridge
      .dataFrameFromInternalRows(spark, outSchema, rdd))
  }

  /** Distributed leveling for hierarchies ABOVE `maxNodes`: the same
    * output contract as [[enrichedSingleTask]], derived with
    * cluster-parallel primitives only — no single task ever holds the
    * node table.
    *
    *   - flags: `is_root` from the parent pointer, `is_leaf` from a
    *     left join against the distinct parent set
    *   - leveling: BFS frontier join loop — level L+1 = nodes whose
    *     parent sits in the level-L frontier, root paths grown by
    *     array concat. Each frontier is `localCheckpoint`ed: the
    *     per-level emptiness probe stays O(level), not O(level²)
    *     recompute, and lineage stays bounded. Cycles, orphan
    *     subtrees and nodes deeper than `depthBound` are simply never
    *     reached — the same dropped set the single-task pass computes.
    *   - DFS `node_sort_order`: global rank over the '/'-joined
    *     per-node `to_json` path key (the exact key both other
    *     derivations sort by), as range-partition + local sort +
    *     `zipWithIndex` — the scalable row_number. The key is unique
    *     whenever `levelFields` carries the node id (the default), so
    *     the rank is deterministic.
    *
    * Per-level scheduling costs `depth` jobs — the price of not
    * owning the whole table in one task; at >10M nodes that is the
    * right trade (SURVEY §4's original design).
    */
  private lazy val enrichedDistributed: DataFrame = {
    val spark = nodes.sparkSession
    val inSchema = nodes.schema
    val pathStructType = StructType(levelFields.map { f =>
      val sf = inSchema(inSchema.fieldIndex(f))
      StructField(sf.name, sf.dataType, sf.nullable)
    })
    val pathType = ArrayType(pathStructType, containsNull = false)
    val nodeStruct = struct(levelFields.map(col): _*)
    val parents = nodes.select(col(parentIdCol).as("__gp"))
      .where(col("__gp").isNotNull).distinct()
    // __rid: surrogate row key, frozen by the checkpoint, so dropped
    // rows are recoverable by anti-join even when node ids are null
    val base = nodes
      .withColumn("is_root", col(parentIdCol).isNull)
      .join(parents, col(nodeIdCol) === col("__gp"), "left")
      .withColumn("is_leaf", col("__gp").isNull)
      .drop("__gp")
      .withColumn("__rid", monotonically_increasing_id())
      .localCheckpoint(true)
    var frontier = base.where(col("is_root"))
      .withColumn("level_number", lit(1).cast(IntegerType))
      .withColumn("path", array(nodeStruct))
      .localCheckpoint(true)
    val frames = scala.collection.mutable.ArrayBuffer(frontier)
    var depth = 1
    while (depth < depthBound && frontier.take(1).nonEmpty) {
      val parentSide = frontier
        .where(col(nodeIdCol).isNotNull)
        .select(col(nodeIdCol).as("__fpid"), col("path").as("__ppath"),
          col("level_number").as("__plev"))
      val next = base.join(parentSide, col(parentIdCol) === col("__fpid"))
        .withColumn("level_number", (col("__plev") + 1).cast(IntegerType))
        .withColumn("path", concat(col("__ppath"), array(nodeStruct)))
        .drop("__fpid", "__ppath", "__plev")
        .localCheckpoint(true)
      frames += next
      frontier = next
      depth += 1
    }
    val leveled = frames.reduce(_ unionByName _)
    // scalable row_number: globally ordered range partitions, sorted
    // within, contiguous indices from zipWithIndex's per-partition
    // offset job
    val pathKey = array_join(
      expr("transform(path, x -> to_json(x, map('ignoreNullFields','false')))"), "/")
    val sorted = leveled.withColumn("__key", pathKey)
      .repartitionByRange(col("__key"))
      .sortWithinPartitions("__key")
    val sortedSchema = sorted.schema
    val rankedRdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    val ranked = spark.createDataFrame(rankedRdd,
        StructType(sortedSchema.fields :+
          StructField("node_sort_order", LongType, nullable = true)))
      .drop("__key")
    val dropped = base
      .join(leveled.select(col("__rid")), Seq("__rid"), "left_anti")
      .withColumn("level_number", lit(null).cast(IntegerType))
      .withColumn("path", lit(null).cast(pathType))
      .withColumn("node_sort_order", lit(null).cast(LongType))
    val outCols = (inSchema.fieldNames.toSeq ++
      Seq("is_root", "is_leaf", "level_number", "path", "node_sort_order")).map(col)
    graft.Artifacts.pin(ranked.unionByName(dropped).select(outCols: _*))
  }

  /** Nodes + `is_root` / `is_leaf` flags
    * (reference: classes/hierarchy_dimension_table.py:96-107).
    */
  lazy val flaggedNodes: DataFrame =
    enriched.drop("level_number", "path", "node_sort_order")

  private def pathStruct: Column = struct(levelFields.map(col): _*)

  /** Reporting dim + the root-path array column `path` (internal).
    * Cached: the closure derivation reads it twice (descendant explode
    * + ancestor attribute join).
    *
    * DFS ordering: row_number over the lexicographic root-path key,
    * stringifying each path struct as its JSON (reference:
    * hierarchy_dimension_table.py:136-144 orders by the stringified
    * node_json path — the JSON form also fixes the sibling tie-break:
    * the closing quote after a short node_id sorts before any longer
    * id sharing the prefix). Dim-sized single-partition window.
    * ignoreNullFields=false: DuckDB's to_json emits "field":null, Spark
    * by default omits the field — a null levelField would change both
    * the sort key and node_json vs the oracle/reference otherwise.
    */
  lazy val reportingDimWithPath: DataFrame =
    if (fusedSortable || useDistributedLeveling) {
      // node_sort_order already computed in the leveling pass (fused
      // single-task, or the distributed rank — which uses to_json
      // itself, so it is exact for EVERY field type) — no window job,
      // no second cache (enriched is the cached frame)
      enriched.filter(col("path").isNotNull)
    } else {
      val pathKey = array_join(
        expr("transform(path, x -> to_json(x, map('ignoreNullFields','false')))"), "/")
      graft.Artifacts.pin(enriched
        .filter(col("path").isNotNull)
        .withColumn("node_sort_order",
          row_number().over(Window.orderBy(pathKey)).cast("long")))
    }

  /** Reporting dimension: `level_number`, DFS `node_sort_order`, the
    * per-node `node_json` struct-as-JSON column, and flattened
    * `level_{i}_<field>` columns
    * (reference: hierarchy_dimension_table.py:109-171).
    */
  lazy val reportingDim: DataFrame = {
    val withLevels = (1 to levelColumns).foldLeft(reportingDimWithPath) {
      case (df, i) =>
        levelFields.foldLeft(df) { case (d, f) =>
          // try_element_at: out-of-range → null (ANSI-safe)
          d.withColumn(s"level_${i}_$f",
            expr(s"try_element_at(path, $i).$f"))
        }
    }
    withLevels
      .withColumn("node_json",
        to_json(pathStruct, Map("ignoreNullFields" -> "false")))
      .drop("path")
  }

  /** Columns carried into the ancestor_ / descendant_ families —
    * everything except the parent pointer and the flattened levels
    * (reference: hierarchy_dimension_table.py:203-215 excludes
    * node_json, node_json_path, parent_node_id).
    */
  private lazy val familyCols: Seq[String] =
    (nodes.columns.filterNot(_ == parentIdCol) ++
      Seq("is_root", "is_leaf", "level_number", "node_sort_order")).toSeq

  /** Aggregation dimension: the ancestor–descendant closure, self-pairs
    * included, with `net_level`
    * (reference: hierarchy_dimension_table.py:173-228).
    *
    * Spark-first derivation: each node's `path` already lists all its
    * ancestors (self included), so the closure is `explode(path)` —
    * no second recursion as in the reference. Ancestor attributes are
    * recovered with a broadcast self-join on the reporting dim.
    */
  /** Lightweight closure: (ancestor, descendant) node-id pairs only,
    * straight off the root-path arrays — skips the DFS window and the
    * ancestor-attribute join that [[aggregationDim]] pays. The right
    * input for closure DIFFS (h7): a hierarchy edit invalidates pairs,
    * not attributes.
    */
  lazy val closurePairs: DataFrame =
    enriched
      .filter(col("path").isNotNull)
      .select(
        explode(expr(s"transform(path, x -> x.$nodeIdCol)")).as("ancestor_node_id"),
        col(nodeIdCol).as("descendant_node_id"))

  /** Fused-mode closure: the cached single-partition `enriched` frame
    * already holds every node's attributes AND root path, so the
    * closure generates in ONE narrow pass — buffer the partition,
    * index by node id, emit (descendant attrs × each path ancestor's
    * attrs) lazily. Replaces the explode + broadcast-self-join jobs
    * of the legacy path (kept below for the non-fused fallback);
    * output rows are identical (h3's oracle hashes the full closure).
    * Same single-task contract as the leveling pass: dim-sized by the
    * `maxNodes` guard, emitted as an iterator — never materialized
    * wholesale in memory.
    */
  private def fusedClosure: DataFrame = {
    val spark = nodes.sparkSession
    val src = enriched.filter(col("path").isNotNull)
    val inSchema = src.schema
    val famIdxs = familyCols.map(inSchema.fieldIndex).toArray
    val famTypes = famIdxs.map(i => inSchema(i).dataType)
    val idIdx = inSchema.fieldIndex(nodeIdCol)
    val idType = inSchema(idIdx).dataType
    val pathIdx = inSchema.fieldIndex("path")
    val pathType = inSchema(pathIdx).dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    val pathIdFieldIdx = pathType.fieldIndex(nodeIdCol)
    val pathIdFieldType = pathType(pathIdFieldIdx).dataType
    val levelIdx = inSchema.fieldIndex("level_number")
    val outSchema = StructType(
      familyCols.map(c => StructField(s"descendant_$c",
        inSchema(inSchema.fieldIndex(c)).dataType, nullable = true)) ++
      familyCols.map(c => StructField(s"ancestor_$c",
        inSchema(inSchema.fieldIndex(c)).dataType, nullable = true)) :+
      StructField("net_level", IntegerType, nullable = true))
    val rdd = src.queryExecution.toRdd.mapPartitions { it =>
      val rows = new scala.collection.mutable.ArrayBuffer[InternalRow]()
      it.foreach(rows += _.copy())
      def famOf(r: InternalRow): Array[Any] = {
        val fam = new Array[Any](famIdxs.length)
        var f = 0
        while (f < famIdxs.length) {
          val ci = famIdxs(f)
          fam(f) = if (r.isNullAt(ci)) null else r.get(ci, famTypes(f))
          f += 1
        }
        fam
      }
      val famById = new java.util.HashMap[Any, (Array[Any], Int)](rows.length * 2)
      rows.foreach { r =>
        if (!r.isNullAt(idIdx))
          famById.put(r.get(idIdx, idType), (famOf(r), r.getInt(levelIdx)))
      }
      rows.iterator.flatMap { r =>
        // descendant attrs come from the row itself (a null-id node is
        // still a descendant; it just never resolves as an ANCESTOR —
        // matching the legacy equi-join, where a null ancestor id
        // never matches and that pair drops)
        val descFam = famOf(r)
        val descLevel = r.getInt(levelIdx)
        val path = r.getArray(pathIdx)
        (0 until path.numElements()).iterator.flatMap { p =>
          val ancStruct = path.getStruct(p, pathType.length)
          val ancId =
            if (ancStruct.isNullAt(pathIdFieldIdx)) null
            else ancStruct.get(pathIdFieldIdx, pathIdFieldType)
          val anc = if (ancId == null) null else famById.get(ancId)
          if (anc == null) Iterator.empty
          else {
            val out = new Array[Any](famIdxs.length * 2 + 1)
            System.arraycopy(descFam, 0, out, 0, famIdxs.length)
            System.arraycopy(anc._1, 0, out, famIdxs.length, famIdxs.length)
            out(famIdxs.length * 2) = descLevel - anc._2
            Iterator.single(new GenericInternalRow(out): InternalRow)
          }
        }
      }
    }
    org.apache.spark.sql.GraftColumnBridge
      .dataFrameFromInternalRows(spark, outSchema, rdd)
  }

  /** The closure without a join hint, for the dimension's own
    * derivations ([[nestedSets]]). */
  private lazy val closure: DataFrame =
    // fusedClosure buffers the dim in ONE partition — only valid on the
    // single-task path; the distributed dim uses the explode+join shape
    // with a plain shuffle join (a >maxNodes ancestor side must not
    // broadcast)
    if (useDistributedLeveling) closureViaJoin(broadcastAncestors = false)
    else if (fusedSortable) fusedClosure
    else closureViaJoin(broadcastAncestors = true)

  /** The closure as fact-side operators join it, with the join
    * strategy the dimension picks from its size: a broadcast hint when
    * it was leveled in one task (at most `maxNodes` nodes), none on the
    * distributed path, where Spark's statistics choose. The hint flows
    * through `filter`/`select`/aggregates to the join reading the
    * frame; an outer `.hint("merge")` overrides it.
    */
  lazy val aggregationDim: DataFrame = joinSide(closure)

  /** `df`, derived from this dimension through a join (which stops
    * the hint), with the join strategy of [[aggregationDim]]. */
  def joinSide(df: DataFrame): DataFrame =
    if (useDistributedLeveling) df else broadcast(df)

  private def closureViaJoin(broadcastAncestors: Boolean): DataFrame = {
    val rd = reportingDim
    val descendants = reportingDimWithPath
      .withColumn("__ancestor_id", explode(expr(s"transform(path, x -> x.$nodeIdCol)")))
      .select(col("__ancestor_id") +: familyCols.map(c => col(c).as(s"descendant_$c")): _*)
    val ancestors0 = rd.select(familyCols.map(c => col(c).as(s"ancestor_$c")): _*)
    val ancestors = if (broadcastAncestors) broadcast(ancestors0) else ancestors0
    descendants
      .join(ancestors,
        col("__ancestor_id") === col(s"ancestor_$nodeIdCol"))
      .drop("__ancestor_id")
      .withColumn("net_level",
        col("descendant_level_number") - col("ancestor_level_number"))
  }

  /** Celko NESTED-SET interval encoding of the tree, derived from
    * frames the dim already computes (no extra recursion): lft =
    * 2·dfs_rank − depth, rgt = lft + 2·subtree_size − 1, where
    * dfs_rank is `node_sort_order` (DFS preorder by construction —
    * a parent's path string strictly prefixes its descendants') and
    * subtree_size counts the node's closure descendants, self
    * included. Subtree membership becomes a RANGE predicate
    * (`d.lft BETWEEN a.lft AND a.rgt`) — the encoding that turns
    * recursive subtree tests into broadcastable interval joins.
    * Everything here is dim-sized; the closure count broadcasts.
    */
  lazy val nestedSets: DataFrame = {
    val sizes = closure
      .groupBy(col("ancestor_node_id").as("node_id"))
      .agg(count(lit(1)).as("subtree_size"))
    val lftCol = col("node_sort_order") * 2 - col("level_number")
    reportingDim
      .join(broadcast(sizes), Seq("node_id"))
      .select(col("node_id"), col("node_natural_key"), col("node_name"),
        col("level_number").cast("long").as("level_number"),
        col("node_sort_order"),
        lftCol.cast("long").as("lft"),
        (lftCol + col("subtree_size") * 2 - 1).cast("long").as("rgt"))
  }
}

/** Persist-and-reload for derived dims. The reference MATERIALIZES its
  * reporting/aggregation dims as database tables
  * (reference: classes/hierarchy_dimension_table.py:75-82) and every
  * query reads the stored tables; the session cache in
  * [[HierarchyQueries]] covers one JVM, this covers the cluster: derive
  * once, [[HierarchyDimension.save]], and every later job
  * [[HierarchyDimension.load]]s the parquet without paying the
  * derivation. Plain parquet (not bucketed): dims are broadcast-joined
  * to facts, so co-partitioning buys nothing — small files that every
  * executor reads whole is exactly right.
  */
object HierarchyDimension {

  /** One materialization per derived table, mirroring the reference's
    * `<name>_reporting_dim` / `<name>_aggregation_dim` table pair. */
  def save(dim: HierarchyDimension, dir: String): Unit = {
    graft.sources.Sources.write(dim.reportingDim, s"$dir/reporting_dim")
    graft.sources.Sources.write(dim.aggregationDim, s"$dir/aggregation_dim")
  }

  /** Reload both dims. Results are plan-identical inputs for
    * [[HierarchyAgg.hierarchicalRollup]] (which needs only the
    * aggregation dim): reload ≡ re-derivation, proven by spec. */
  def load(spark: org.apache.spark.sql.SparkSession,
      dir: String): (DataFrame, DataFrame) =
    (graft.sources.Sources.read(spark, s"$dir/reporting_dim"),
      graft.sources.Sources.read(spark, s"$dir/aggregation_dim"))

  /** Whether `df` carries the broadcast hint [[HierarchyDimension.joinSide]]
    * puts on a dimension leveled in one task, under any outer hints (h35's
    * `.hint("merge")` sits on top of it). Such a dimension has at most
    * `maxNodes` nodes, so a per-node readout of it is dim-sized. A
    * distributed dimension, or a loaded or stored closure, carries none.
    */
  private[graft] def leveledInOneTask(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, LogicalPlan, ResolvedHint}
    @scala.annotation.tailrec
    def hinted(p: LogicalPlan): Boolean = p match {
      case ResolvedHint(_, h) if h.strategy.contains(BROADCAST) => true
      case ResolvedHint(child, _) => hinted(child)
      case _ => false
    }
    hinted(df.queryExecution.analyzed)
  }

  /** Point-in-time node set of a VERSIONED hierarchy: rows carry SCD2
    * validity windows (`valid_from` ≤ t < `valid_to`); the filter
    * selects the one version of each node live at `asOf`, yielding a
    * plain parent-child table ready for dimension derivation — the
    * "rollup with the hierarchy as it was on date X" workflow
    * (time-travel twin of [[closureDiff]]'s cache-invalidation view).
    * Dim-sized: the predicate prunes before any derivation work.
    * A null `valid_to` is the common SCD2 convention for the OPEN
    * current version and matches every as-of date ≥ its start;
    * symmetrically a null `valid_from` is an open beginning.
    */
  def asOf(versionedNodes: DataFrame, asOfDate: Column,
      validFrom: String = "valid_from", validTo: String = "valid_to"): DataFrame =
    versionedNodes
      .filter((col(validFrom) <= asOfDate || col(validFrom).isNull) &&
        (asOfDate < col(validTo) || col(validTo).isNull))
      .drop(validFrom, validTo)

  /** Version-RANGE companion to [[asOf]]: every node version live at
    * any point of [start, end), windows clipped to the range — the
    * validity-tagged node set an h14-style history rollup derives its
    * per-interval closures from (one dimension per distinct
    * `valid_from` breakpoint in the result). Dim-sized; the overlap
    * predicate prunes versions wholly outside the range before any
    * derivation work.
    */
  def asOfRange(versionedNodes: DataFrame, start: Column, end: Column,
      validFrom: String = "valid_from", validTo: String = "valid_to"): DataFrame =
    versionedNodes
      // null bounds are open ends (SCD2 current-version convention);
      // greatest/least skip nulls, so clipping closes them to the range
      .filter((col(validFrom) < end || col(validFrom).isNull) &&
        (start < col(validTo) || col(validTo).isNull))
      .withColumn(validFrom, greatest(col(validFrom), start))
      .withColumn(validTo, least(col(validTo), end))

  /** Validity-tagged closure UNION of a VERSIONED hierarchy — the
    * broadcast side of a history-correct ("slowly-changing") rollup,
    * where each fact routes through the tree version live at its own
    * date: `facts JOIN historyClosure ON descendant = leaf AND
    * fact_date >= valid_from AND fact_date < valid_to`.
    *
    * Generic over ANY SCD2 node table (the stored-dim workflow of
    * reference: classes/hierarchy_dimension_table.py:75-82 extended
    * with validity windows). INCREMENTAL derivation: rather than one
    * full-tree closure per global version breakpoint (cost
    * O(breakpoints × |tree|) sequential derivations — a production dim
    * with thousands of scattered edits pays thousands of leveling
    * passes even when each edit touches one node), each node VERSION's
    * parent chain is walked toward the root with `depthBound` chained
    * broadcast self-joins, INTERSECTING validity windows along the
    * chain. A pair (a, d) is emitted once per maximal interval over
    * which the whole d→a chain is version-constant; per-node versions
    * are time-disjoint (the SCD2 contract), so at any instant at most
    * one chain realizes a pair and the emitted windows never overlap.
    * Derivation cost is O(depth) dim-sized joins in ONE lazy plan —
    * independent of the breakpoint count, with no driver-side
    * coordination at all (the r10 derivation collected breakpoints and
    * built a `HierarchyDimension` per interval).
    *
    * Dropped-node semantics match the leveling pass: a version chain
    * that hits a missing parent, a cycle, or exceeds `depthBound`
    * never completes and contributes no pairs for that interval.
    *
    * Adjacent windows of a pair that SURVIVES a breakpoint are merged
    * (gaps-and-islands over the dim-sized pair set) — a reparent's
    * before/after chains of a surviving pair land time-adjacent and
    * fuse, so the broadcast carries one row per pair-VALIDITY, not per
    * version interval: a mostly-stable tree with many version breaks
    * costs barely more than an unversioned one. Merging never changes
    * join results — a fact date falls in exactly one window either way.
    *
    * The returned frame is lazy and dim-sized; CACHE THE RESULT if it
    * is read more than once (the registry does, mirroring the
    * reference's stored dims).
    */
  def historyClosure(versionedNodes: DataFrame,
      validFrom: String = "valid_from", validTo: String = "valid_to",
      nodeIdCol: String = "node_id", parentIdCol: String = "parent_node_id",
      knownDepth: Int = -1, maxDepth: Int = 16): DataFrame = {
    val depthBound = if (knownDepth > 0) knownDepth else maxDepth
    // normalize SCD2 OPEN ends (null valid_from / valid_to — the
    // common convention for the current version) to typed sentinels,
    // so window intersection stays total-ordered and a fact join's
    // `date < valid_to` predicate still fires
    def sentinel(dt: org.apache.spark.sql.types.DataType,
        lo: Boolean): Option[Column] = dt match {
      case DateType => Some(lit(java.sql.Date.valueOf(
        if (lo) "0001-01-01" else "9999-12-31")))
      case TimestampType => Some(lit(java.sql.Timestamp.valueOf(
        if (lo) "0001-01-01 00:00:00" else "9999-12-31 00:00:00")))
      // ISO-8601 date strings (a common SCD2 encoding) order
      // lexicographically exactly like their dates, so string
      // sentinels bound them correctly
      case StringType => Some(lit(if (lo) "0000-01-01" else "9999-12-31"))
      case _ => None
    }
    def normalized(c: String, lo: Boolean): Column = {
      val dt = versionedNodes.schema(c).dataType
      sentinel(dt, lo) match {
        case Some(s) => coalesce(col(c), s)
        // unsupported validity type: a null open end would silently
        // yield empty/wrong windows — fail loudly at execution instead
        // (raise_error is non-foldable; it fires only on a real null)
        case None => coalesce(col(c), raise_error(lit(
          s"historyClosure: null $c of unsupported validity type $dt — " +
            "use Date/Timestamp/ISO-date-String bounds or close the " +
            "window explicitly")).cast(dt))
      }
    }
    val versions = versionedNodes.select(
        col(nodeIdCol).as("__id"), col(parentIdCol).as("__next"),
        normalized(validFrom, lo = true).as("__vf"),
        normalized(validTo, lo = false).as("__vt"))
      // a degenerate window can never match a fact date (and would
      // break the disjoint-versions invariant the walk relies on)
      .filter(col("__vf") < col("__vt"))
    val parents = versions.select(
      col("__id").as("__pid"), col("__next").as("__pnext"),
      col("__vf").as("__pvf"), col("__vt").as("__pvt"))
    // chain state: the ancestors found so far (self first), the next
    // parent id to resolve, and the intersected validity window. A
    // chain COMPLETES when its parent pointer is null (reached a
    // root); depthBound joins bound the walk exactly like the
    // leveling pass's level bound.
    var active = versions.select(
      col("__id").as("descendant_node_id"),
      array(col("__id")).as("__anc"),
      col("__next"), col("__vf"), col("__vt"))
    var completed = active.filter(col("__next").isNull).drop("__next")
    active = active.filter(col("__next").isNotNull)
    for (_ <- 2 to depthBound) {
      val stepped = active.join(broadcast(parents),
          col("__next") === col("__pid") &&
            col("__vf") < col("__pvt") && col("__pvf") < col("__vt"))
        .select(col("descendant_node_id"),
          concat(col("__anc"), array(col("__pid"))).as("__anc"),
          col("__pnext").as("__next"),
          greatest(col("__vf"), col("__pvf")).as("__vf"),
          least(col("__vt"), col("__pvt")).as("__vt"))
      completed = completed.unionByName(
        stepped.filter(col("__next").isNull).drop("__next"))
      active = stepped.filter(col("__next").isNotNull)
    }
    val pairs = completed.select(
      explode(col("__anc")).as("ancestor_node_id"),
      col("descendant_node_id"),
      col("__vf").as(validFrom), col("__vt").as(validTo))
    val w = Window.partitionBy("ancestor_node_id", "descendant_node_id")
      .orderBy(col(validFrom))
    pairs
      .withColumn("__new_island",
        when(lag(col(validTo), 1).over(w) === col(validFrom), lit(0))
          .otherwise(lit(1)))
      .withColumn("__island", sum("__new_island").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("ancestor_node_id"), col("descendant_node_id"),
        col("__island"))
      .agg(min(col(validFrom)).as(validFrom), max(col(validTo)).as(validTo))
      .drop("__island")
  }

  /** Diff two versions of a hierarchy: the added/removed
    * ancestor–descendant pairs — exactly the rows a rollup cache must
    * invalidate after a hierarchy edit. Both sides use the lightweight
    * [[HierarchyDimension.closurePairs]] (no DFS window, no attribute
    * join) and the diff is ONE full-outer join: pairs are unique per
    * closure, so the null side labels the change. Dim-sized
    * throughout; facts never move.
    */
  /** INCREMENTAL closure maintenance for a subtree MOVE — the
    * hierarchy-edit fast path: reparenting `nodeId` under
    * `newParentId` touches exactly (strict-ancestors × subtree) pairs,
    * so the new closure is derivable from the OLD closure alone:
    *
    *   new = old − strictAnc(X) × desc(X)  ∪  anc(newParent) × desc(X)
    *
    * (desc includes X itself; anc(newParent) includes newParent's
    * self-pair, which supplies the new parent edge). No re-leveling,
    * no recursion, no second dimension build — [[closureDiff]] builds
    * BOTH dims to find the invalidation set; this never builds the new
    * one. At 100 TB dims the delta is |path| × |subtree| rows while a
    * rebuild re-levels the world; the DuckDB oracle IS the from-scratch
    * recursive rebuild, so the hash-match proves incremental ≡ rebuild.
    *
    * Scale shape: the three slices are dim-bounded selections of the
    * closure; the two crosses are path-sized × subtree-sized with the
    * path side broadcast; the only fact... there are no facts — the
    * whole operator is dim-sized, and the anti-join keys on the
    * (ancestor, descendant) pair.
    */
  def moveSubtreeClosure(closure: DataFrame, nodeId: String,
      newParentId: String): DataFrame = {
    // cycle guard: the new parent must lie OUTSIDE the moved subtree
    // (moving a node under its own descendant — or under itself —
    // would orphan the subtree into a cycle). Dim-sized probe.
    require(closure.filter(col("ancestor_node_id") === nodeId &&
        col("descendant_node_id") === newParentId).isEmpty,
      s"cannot move $nodeId under its own descendant $newParentId")
    val descX = closure.filter(col("ancestor_node_id") === nodeId)
      .select(col("descendant_node_id").as("d"))
    val strictAncX = closure.filter(col("descendant_node_id") === nodeId &&
        col("ancestor_node_id") =!= nodeId)
      .select(col("ancestor_node_id").as("a"))
    val ancNew = closure.filter(col("descendant_node_id") === newParentId)
      .select(col("ancestor_node_id").as("a"))
    val removed = broadcast(strictAncX).crossJoin(descX)
    val added = broadcast(ancNew).crossJoin(descX)
      .select(col("a").as("ancestor_node_id"), col("d").as("descendant_node_id"))
    closure.join(removed,
        col("ancestor_node_id") === col("a") &&
          col("descendant_node_id") === col("d"), "left_anti")
      .unionByName(added)
  }

  def closureDiff(before: HierarchyDimension, after: HierarchyDimension): DataFrame = {
    val c1 = before.closurePairs.as("a")
    val c2 = after.closurePairs.as("b")
    c1.join(c2,
        col("a.ancestor_node_id") === col("b.ancestor_node_id") &&
          col("a.descendant_node_id") === col("b.descendant_node_id"),
        "full_outer")
      .filter(col("a.ancestor_node_id").isNull || col("b.ancestor_node_id").isNull)
      .select(
        when(col("b.ancestor_node_id").isNull, lit("removed"))
          .otherwise(lit("added")).as("change"),
        coalesce(col("a.ancestor_node_id"), col("b.ancestor_node_id"))
          .as("ancestor_node_id"),
        coalesce(col("a.descendant_node_id"), col("b.descendant_node_id"))
          .as("descendant_node_id"))
  }
}
