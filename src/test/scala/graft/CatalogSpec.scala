package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}

/** The mounted catalog plugin ([[graft.sources.MemCatalog]]): full
  * SQL lifecycle against a custom TableCatalog, plus the contract
  * edges — refused metadata delete, truncate, drop, re-create. */
class CatalogSpec extends SparkSpec {

  private def mounted(): SparkSession = {
    val cs = spark.newSession()
    cs.conf.set("spark.sql.catalog.mem", "graft.sources.MemCatalog")
    cs
  }

  test("create / insert / delete / rename / read lifecycle") {
    val cs = mounted()
    cs.sql("CREATE TABLE mem.ns.t (k BIGINT, v BIGINT)")
    cs.sql("INSERT INTO mem.ns.t VALUES (1, 10), (2, 20), (3, 30), (2, 21)")
    // metadata delete through SupportsDelete — no rewrite job
    cs.sql("DELETE FROM mem.ns.t WHERE k = 2")
    cs.sql("ALTER TABLE mem.ns.t RENAME TO ns.t2")
    val rows = cs.sql("SELECT k, v FROM mem.ns.t2 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 10L), (3L, 30L)))
    // the old name is gone; the catalog reports it properly
    val e = intercept[AnalysisException] {
      cs.sql("SELECT * FROM mem.ns.t").collect()
    }
    assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND")
  }

  test("rename onto an occupied name throws and destroys nothing") {
    val cs = mounted()
    cs.sql("CREATE TABLE mem.rn.a (k BIGINT)")
    cs.sql("CREATE TABLE mem.rn.b (k BIGINT)")
    cs.sql("INSERT INTO mem.rn.b VALUES (7)")
    intercept[AnalysisException] {
      cs.sql("ALTER TABLE mem.rn.a RENAME TO rn.b")
    }
    // the occupied destination kept its data; the source still exists
    assert(cs.sql("SELECT k FROM mem.rn.b").collect().map(_.getLong(0)).toSeq
      == Seq(7L))
    assert(cs.sql("SELECT count(*) FROM mem.rn.a").collect()(0).getLong(0) == 0)
  }

  test("SHOW TABLES is namespace-scoped; a missing namespace raises") {
    val cs = mounted()
    cs.sql("CREATE TABLE mem.nsa.x (k BIGINT)")
    cs.sql("CREATE TABLE mem.nsb.y (k BIGINT)")
    val inA = cs.sql("SHOW TABLES IN mem.nsa").collect().map(_.getString(1))
    assert(inA.toSeq == Seq("x"), s"nsa listing leaked: ${inA.toSeq}")
    val e = intercept[AnalysisException] {
      cs.sql("SHOW TABLES IN mem.nope").collect()
    }
    assert(e.getCondition == "SCHEMA_NOT_FOUND", e.getCondition)
  }

  test("DML routing: metadata delete vs copy-on-write rewrite; UPDATE; MERGE") {
    import graft.sources.MemTable
    val cs = mounted()
    cs.sql("CREATE TABLE mem.ns.s (k BIGINT, name STRING)")
    cs.sql("INSERT INTO mem.ns.s VALUES (1, 'keep'), (2, 'drop'), (3, 'drop')")
    // store-evaluable predicate → METADATA delete (deleteWhere, no job)
    val (md0, rw0) = (MemTable.metadataDeletes.get(), MemTable.rewrites.get())
    cs.sql("DELETE FROM mem.ns.s WHERE k IN (3)")
    assert(MemTable.metadataDeletes.get() == md0 + 1, "expected the metadata path")
    assert(MemTable.rewrites.get() == rw0, "metadata delete must not launch a rewrite")
    // un-evaluable predicate → group-based copy-on-write rewrite
    cs.sql("DELETE FROM mem.ns.s WHERE name = 'drop'")
    assert(MemTable.rewrites.get() == rw0 + 1, "expected the rewrite path")
    assert(cs.sql("SELECT k, name FROM mem.ns.s").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1))) == Seq((1L, "keep")))
    // UPDATE routes through the rewrite
    cs.sql("UPDATE mem.ns.s SET name = 'kept' WHERE k = 1")
    // MERGE: one matched update, one not-matched insert
    cs.sql(
      """MERGE INTO mem.ns.s t
        |USING (SELECT * FROM VALUES (1, 'merged'), (5, 'new') AS v(k, name)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET name = s.name
        |WHEN NOT MATCHED THEN INSERT (k, name) VALUES (s.k, s.name)""".stripMargin)
    val fin = cs.sql("SELECT k, name FROM mem.ns.s ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(fin == Seq((1L, "merged"), (5L, "new")))
  }

  test("merge-on-read DML: deltas commit, base stays immutable, no rewrite") {
    import graft.sources.{MemCatalog, MemTable}
    import org.apache.spark.sql.connector.catalog.Identifier
    val cs = mounted()
    cs.sql(
      "CREATE TABLE mem.mor.t (k BIGINT, v BIGINT) TBLPROPERTIES('mor'='true')")
    cs.sql("INSERT INTO mem.mor.t VALUES (1,10),(2,20),(3,30),(4,40)")
    val cat = cs.sessionState.catalogManager.catalog("mem")
      .asInstanceOf[MemCatalog]
    val t = cat.loadTable(Identifier.of(Array("mor"), "t"))
      .asInstanceOf[MemTable]
    val (rw0, md0, dc0) = (MemTable.rewrites.get(),
      MemTable.metadataDeletes.get(), MemTable.deltaCommits.get())
    val base0 = t.baseRowCount
    // a 1-row UPDATE commits ONE delta record — never a group rewrite
    cs.sql("UPDATE mem.mor.t SET v = v + 5 WHERE k = 2")
    assert(MemTable.rewrites.get() == rw0, "MoR UPDATE took the CoW path")
    assert(MemTable.deltaCommits.get() == dc0 + 1, "expected a delta commit")
    assert(t.baseRowCount == base0, "MoR DML mutated the base rows")
    assert(t.deltaLogSize == 1, s"log size ${t.deltaLogSize}")
    // DELETE routes through deltas too (metadata path refused on MoR,
    // even for a store-evaluable predicate)
    cs.sql("DELETE FROM mem.mor.t WHERE k = 3")
    assert(MemTable.metadataDeletes.get() == md0, "MoR DELETE went metadata")
    assert(MemTable.deltaCommits.get() == dc0 + 2)
    assert(t.baseRowCount == base0)
    // MERGE emits update + insert deltas in one commit
    cs.sql(
      """MERGE INTO mem.mor.t t
        |USING (SELECT * FROM VALUES (4, 400L), (9, 900L) AS v(k, nv)) s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)""".stripMargin)
    assert(MemTable.rewrites.get() == rw0, "MoR MERGE took the CoW path")
    assert(MemTable.deltaCommits.get() == dc0 + 3)
    assert(t.baseRowCount == base0, "MERGE mutated the base rows")
    // the merge-on-read scan converges to the expected state
    val fin = cs.sql("SELECT k, v FROM mem.mor.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fin == Seq((1L, 10L), (2L, 25L), (4L, 400L), (9L, 900L)), fin)
  }

  test("ADD COLUMN DEFAULT: legacy rows surface the default, zero rewrite") {
    import graft.sources.{MemCatalog, MemTable}
    import org.apache.spark.sql.connector.catalog.Identifier
    val cs = mounted()
    cs.sql("CREATE TABLE mem.evo.t (k BIGINT, v BIGINT)")
    cs.sql("INSERT INTO mem.evo.t VALUES (1, 10), (2, 20)")
    val cat = cs.sessionState.catalogManager.catalog("mem")
      .asInstanceOf[MemCatalog]
    val t = cat.loadTable(Identifier.of(Array("evo"), "t"))
      .asInstanceOf[MemTable]
    val (rw0, dc0) = (MemTable.rewrites.get(), MemTable.deltaCommits.get())
    val base0 = t.baseRowCount
    cs.sql("ALTER TABLE mem.evo.t ADD COLUMN tier BIGINT DEFAULT 7")
    // the evolution touched METADATA only: no rewrite, no delta, no
    // base-row mutation
    assert(MemTable.rewrites.get() == rw0, "ALTER launched a rewrite")
    assert(MemTable.deltaCommits.get() == dc0, "ALTER committed deltas")
    assert(t.baseRowCount == base0, "ALTER mutated the base rows")
    // legacy rows surface the EXISTS-default at scan time
    assert(cs.sql("SELECT k, tier FROM mem.evo.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 7L), (2L, 7L)))
    // engine fills the CURRENT-default for an omitted column; explicit
    // values survive; still zero rewrites
    cs.sql("INSERT INTO mem.evo.t (k, v) VALUES (3, 30)")
    cs.sql("INSERT INTO mem.evo.t VALUES (4, 40, 9)")
    assert(MemTable.rewrites.get() == rw0)
    assert(cs.sql("SELECT k, v, tier FROM mem.evo.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq((1L, 10L, 7L), (2L, 20L, 7L), (3L, 30L, 7L), (4L, 40L, 9L)))
    // predicates on the ADDED column must NOT take the exact metadata
    // path (legacy rows hold no stored value) — rewrite handles them
    val md0 = MemTable.metadataDeletes.get()
    cs.sql("DELETE FROM mem.evo.t WHERE tier = 9")
    assert(MemTable.metadataDeletes.get() == md0,
      "delete on an added column took the metadata path")
    assert(cs.sql("SELECT count(*) FROM mem.evo.t").collect()(0).getLong(0) == 3)
    // a nullable add without DEFAULT backfills NULL; NOT NULL without
    // DEFAULT is refused (legacy rows would have no value)
    cs.sql("ALTER TABLE mem.evo.t ADD COLUMN note STRING")
    assert(cs.sql("SELECT count(*) FROM mem.evo.t WHERE note IS NULL")
      .collect()(0).getLong(0) == 3)
    intercept[Exception] {
      cs.sql("ALTER TABLE mem.evo.t ADD COLUMN bad BIGINT NOT NULL")
    }
  }

  test("RENAME/DROP COLUMN: field-id semantics, no rewrite, no resurrection") {
    import graft.sources.{MemCatalog, MemTable}
    import org.apache.spark.sql.connector.catalog.Identifier
    val cs = mounted()
    cs.sql("CREATE TABLE mem.fid.t (k BIGINT, n BIGINT, v BIGINT)")
    cs.sql("INSERT INTO mem.fid.t VALUES (1, 100, 10), (2, 200, 20)")
    val cat = cs.sessionState.catalogManager.catalog("mem")
      .asInstanceOf[MemCatalog]
    val t = cat.loadTable(Identifier.of(Array("fid"), "t"))
      .asInstanceOf[MemTable]
    val rw0 = MemTable.rewrites.get()
    val base0 = t.baseRowCount
    // RENAME keeps the field id → the stored data survives
    cs.sql("ALTER TABLE mem.fid.t RENAME COLUMN v TO worth")
    assert(cs.sql("SELECT k, worth FROM mem.fid.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, 10L), (2L, 20L)))
    // the old name is gone
    intercept[AnalysisException] {
      cs.sql("SELECT v FROM mem.fid.t").collect()
    }
    // DROP retires the id; a SAME-NAME re-add mints a new id — the
    // old values must NOT resurrect (they'd be silent corruption)
    cs.sql("ALTER TABLE mem.fid.t DROP COLUMN n")
    cs.sql("ALTER TABLE mem.fid.t ADD COLUMN n BIGINT DEFAULT -1")
    assert(cs.sql("SELECT k, n FROM mem.fid.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      == Seq((1L, -1L), (2L, -1L)),
      "dropped column's values resurrected through the re-added name")
    // the whole evolution chain was metadata-only
    assert(MemTable.rewrites.get() == rw0, "evolution launched a rewrite")
    assert(t.baseRowCount == base0, "evolution mutated base rows")
    // post-evolution rows carry the new column; legacy defaults hold
    cs.sql("INSERT INTO mem.fid.t VALUES (3, 30, 300)")
    assert(cs.sql("SELECT k, worth, n FROM mem.fid.t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      == Seq((1L, 10L, -1L), (2L, 20L, -1L), (3L, 30L, 300L)))
    // contract edges: unknown column, duplicate target name, last column
    intercept[Exception] {
      cs.sql("ALTER TABLE mem.fid.t RENAME COLUMN nope TO x")
    }
    intercept[Exception] {
      cs.sql("ALTER TABLE mem.fid.t RENAME COLUMN worth TO n")
    }
    // MoR row-id column is undropable
    cs.sql("CREATE TABLE mem.fid.m (k BIGINT, v BIGINT) TBLPROPERTIES('mor'='true')")
    intercept[Exception] {
      cs.sql("ALTER TABLE mem.fid.m DROP COLUMN k")
    }
  }

  test("CALL compact: folds the delta log, scan identical, counters route") {
    import graft.sources.{MemCatalog, MemTable}
    import org.apache.spark.sql.connector.catalog.Identifier
    val cs = mounted()
    cs.sql("CREATE TABLE mem.ns.cp (k BIGINT, v BIGINT) TBLPROPERTIES('mor'='true')")
    cs.sql("INSERT INTO mem.ns.cp VALUES (1, 10), (2, 20), (3, 30)")
    cs.sql("UPDATE mem.ns.cp SET v = v + 1 WHERE k = 1")
    cs.sql("DELETE FROM mem.ns.cp WHERE k = 2")
    val cat = cs.sessionState.catalogManager.catalog("mem")
      .asInstanceOf[MemCatalog]
    val t = cat.loadTable(Identifier.of(Array("ns"), "cp"))
      .asInstanceOf[MemTable]
    // MoR invariants pre-compaction: log holds the two deltas, base
    // untouched
    assert(t.deltaLogSize == 2)
    assert(t.baseRowCount == 3)
    val pre = cs.sql("SELECT k, v FROM mem.ns.cp ORDER BY k").collect().toSeq
    val rw0 = MemTable.rewrites.get()
    val cp0 = MemTable.compactions.get()
    // the CALL reports its accounting in-band: 2 deltas folded, 2
    // base rows after (update applied in place, delete dropped)
    val res = cs.sql("CALL mem.sys.compact('ns.cp')").collect()
    assert(res.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 2L)))
    assert(t.deltaLogSize == 0, "compaction left the log")
    assert(t.baseRowCount == 2)
    assert(MemTable.compactions.get() == cp0 + 1)
    assert(MemTable.rewrites.get() == rw0,
      "compaction routed through the CoW rewrite path")
    // the fold IS the scan's merge — data identical before/after
    assert(cs.sql("SELECT k, v FROM mem.ns.cp ORDER BY k").collect().toSeq
      == pre, "compaction changed the data")
    // empty-log compact is a reported no-op, not a counted rewrite
    val res2 = cs.sql("CALL mem.sys.compact('ns.cp')").collect()
    assert(res2.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 2L)))
    assert(MemTable.compactions.get() == cp0 + 1, "no-op compaction counted")
    // contract edges: unknown table, unknown procedure
    intercept[Exception] {
      cs.sql("CALL mem.sys.compact('ns.nope')").collect()
    }
    intercept[Exception] {
      cs.sql("CALL mem.sys.vacuum('ns.cp')").collect()
    }
    // the procedure surface is discoverable through the DDL verbs
    val shown = cs.sql("SHOW PROCEDURES IN mem.sys").collect()
      .map(_.toString).mkString
    assert(shown.contains("compact"), s"SHOW PROCEDURES missed compact: $shown")
    val desc = cs.sql("DESCRIBE PROCEDURE mem.sys.compact").collect()
      .map(_.toString).mkString
    assert(desc.contains("compact"), s"DESCRIBE PROCEDURE empty: $desc")
  }

  test("CALL verbs: every one listed, described, and typed at binding") {
    val cs = mounted()
    cs.sql("CREATE TABLE mem.pc.t (k BIGINT) TBLPROPERTIES('mor'='true')")
    cs.sql("INSERT INTO mem.pc.t VALUES (1)")
    val verbs = Seq(
      "compact" -> Seq("tbl" -> "STRING"),
      "changes" -> Seq("tbl" -> "STRING", "from_v" -> "BIGINT",
        "to_v" -> "BIGINT"),
      "expire" -> Seq("tbl" -> "STRING", "keep_n" -> "BIGINT"),
      "tag" -> Seq("tbl" -> "STRING", "name" -> "STRING", "v" -> "BIGINT"),
      "untag" -> Seq("tbl" -> "STRING", "name" -> "STRING"),
      "branch" -> Seq("tbl" -> "STRING", "name" -> "STRING"),
      "publish" -> Seq("tbl" -> "STRING", "name" -> "STRING"),
      "rebase" -> Seq("tbl" -> "STRING", "name" -> "STRING"),
      "drop_branch" -> Seq("tbl" -> "STRING", "name" -> "STRING"))
    val shown = cs.sql("SHOW PROCEDURES IN mem.sys").collect()
      .map(_.getAs[String]("procedure_name")).toSet
    assert(shown == verbs.map(_._1).toSet, s"SHOW PROCEDURES: $shown")
    def literal(t: String): String = if (t == "STRING") "'x'" else "1L"
    verbs.foreach { case (verb, params) =>
      val desc = cs.sql(s"DESCRIBE PROCEDURE mem.sys.$verb").collect()
        .map(_.getString(0)).mkString("\n")
      params.foreach { case (p, _) =>
        assert(s"\\b$p\\b".r.findFirstIn(desc).isDefined,
          s"DESCRIBE PROCEDURE $verb misses parameter $p: $desc")
      }
      val good = "'pc.t'" +: params.tail.map(p => literal(p._2))
      // one argument too many, and the table name as a BIGINT: both
      // refused by bind, before the verb touches the table
      Seq(good :+ "1L", "1L" +: good.tail).foreach { args =>
        val call = s"CALL mem.sys.$verb(${args.mkString(", ")})"
        val e = intercept[UnsupportedOperationException] {
          cs.sql(call).collect()
        }
        assert(e.getMessage.startsWith(s"$verb expects"),
          s"$call: ${e.getMessage}")
      }
    }
    assert(cs.sql("SELECT k FROM mem.pc.t").collect().map(_.getLong(0))
      .toSeq == Seq(1L), "a refused CALL touched the table")
  }

  test("REPLACE WHERE: atomic slice swap, counted, refuses opaque conditions") {
    import org.apache.spark.sql.functions._
    import graft.sources.MemTable
    val cs = mounted()
    cs.sql("CREATE TABLE mem.ow.t (k BIGINT, v BIGINT)")
    cs.sql("INSERT INTO mem.ow.t VALUES (1, 10), (2, 20), (11, 110), (12, 120)")
    val before = MemTable.replaceWheres.get()
    import cs.implicits._
    Seq((1L, 99L), (3L, 33L)).toDF("k", "v")
      .writeTo("mem.ow.t").overwrite(col("k") < 10)
    assert(MemTable.replaceWheres.get() == before + 1,
      "replace-where did not route through the overwrite commit")
    val rows = cs.sql("SELECT k, v FROM mem.ow.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // the k >= 10 slice survived untouched; the k < 10 slice is the
    // new batch, including a row the old slice never had
    assert(rows == Seq((1L, 99L), (3L, 33L), (11L, 110L), (12L, 120L)), rows)
    // a condition the store cannot evaluate exactly must refuse
    intercept[Exception] {
      Seq((1L, 1L)).toDF("k", "v")
        .writeTo("mem.ow.t").overwrite(col("k") % 2 === 0)
    }
  }

  test("dynamic overwrite replaces touched partitions only; static truncates") {
    import graft.sources.MemTable
    val cs = mounted()
    cs.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    cs.sql("CREATE TABLE mem.ow.p (part BIGINT, v BIGINT) PARTITIONED BY (part)")
    cs.sql("INSERT INTO mem.ow.p VALUES (0, 1), (1, 2), (2, 3), (2, 4)")
    val before = MemTable.dynamicOverwrites.get()
    cs.sql("INSERT OVERWRITE mem.ow.p VALUES (CAST(2 AS BIGINT), CAST(99 AS BIGINT))")
    assert(MemTable.dynamicOverwrites.get() == before + 1)
    val dyn = cs.sql("SELECT part, v FROM mem.ow.p ORDER BY part, v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(dyn == Seq((0L, 1L), (1L, 2L), (2L, 99L)),
      s"untouched partitions must survive dynamic overwrite: $dyn")
    // static mode on the same table: INSERT OVERWRITE truncates ALL
    cs.conf.set("spark.sql.sources.partitionOverwriteMode", "static")
    cs.sql("INSERT OVERWRITE mem.ow.p VALUES (CAST(5 AS BIGINT), CAST(1 AS BIGINT))")
    val stat = cs.sql("SELECT part, v FROM mem.ow.p").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(stat == Seq((5L, 1L)), s"static overwrite must truncate: $stat")
    // partitioning is limited and loud: non-identity transforms and
    // non-BIGINT partition columns refuse (N identity BIGINT columns
    // are supported — see the multi-column test below)
    intercept[Exception] {
      cs.sql("CREATE TABLE mem.ow.p2 (a BIGINT, b BIGINT, v BIGINT) " +
        "PARTITIONED BY (bucket(4, a))")
    }
    intercept[Exception] {
      cs.sql("CREATE TABLE mem.ow.p3 (a STRING, v BIGINT) " +
        "PARTITIONED BY (a)")
    }
  }

  test("multi-column partitions: tuple DDL, partial SHOW, tuple overwrite") {
    import graft.sources.MemTable
    val cs = mounted()
    cs.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    cs.sql("CREATE TABLE mem.mc.t (day BIGINT, region BIGINT, v BIGINT) " +
      "PARTITIONED BY (day, region)")
    cs.sql("INSERT INTO mem.mc.t VALUES (1, 0, 10), (1, 1, 11), (1, 2, 12), " +
      "(2, 0, 20), (2, 1, 21)")
    def shown(spec: String = "") =
      cs.sql(s"SHOW PARTITIONS mem.mc.t $spec").collect()
        .map(_.getString(0)).toSet
    // full listing carries the full tuple; partition identity is the
    // PAIR, so (1, x) and (2, x) are distinct cells
    assert(shown() == Set("day=1/region=0", "day=1/region=1",
      "day=1/region=2", "day=2/region=0", "day=2/region=1"), shown())
    // PARTIAL spec filters on the specified positions only
    assert(shown("PARTITION (day=2)") ==
      Set("day=2/region=0", "day=2/region=1"), shown("PARTITION (day=2)"))
    assert(shown("PARTITION (region=1)") ==
      Set("day=1/region=1", "day=2/region=1"),
      shown("PARTITION (region=1)"))
    // tuple-addressed DDL: ADD a declared-ahead slot, DROP one cell,
    // TRUNCATE another (slot survives, data gone)
    cs.sql("ALTER TABLE mem.mc.t ADD PARTITION (day=9, region=9)")
    intercept[Exception] {
      cs.sql("ALTER TABLE mem.mc.t ADD PARTITION (day=1, region=0)")
    }
    cs.sql("ALTER TABLE mem.mc.t DROP PARTITION (day=1, region=1)")
    cs.sql("TRUNCATE TABLE mem.mc.t PARTITION (day=2, region=0)")
    assert(shown() == Set("day=1/region=0", "day=1/region=2",
      "day=2/region=0", "day=2/region=1", "day=9/region=9"), shown())
    val afterDdl = cs.sql("SELECT day, region, v FROM mem.mc.t " +
      "ORDER BY day, region").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(afterDdl == Seq((1L, 0L, 10L), (1L, 2L, 12L), (2L, 1L, 21L)),
      s"tuple DDL touched the wrong cells: $afterDdl")
    // dynamic overwrite at tuple granularity: the batch touches
    // (1, 0) only — (1, 2), the cell a day-only layout would have
    // clobbered, must survive
    val before = MemTable.dynamicOverwrites.get()
    cs.sql("INSERT OVERWRITE mem.mc.t VALUES " +
      "(CAST(1 AS BIGINT), CAST(0 AS BIGINT), CAST(99 AS BIGINT))")
    assert(MemTable.dynamicOverwrites.get() == before + 1)
    val dyn = cs.sql("SELECT day, region, v FROM mem.mc.t " +
      "ORDER BY day, region").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(dyn == Seq((1L, 0L, 99L), (1L, 2L, 12L), (2L, 1L, 21L)),
      s"tuple-granularity overwrite touched the wrong cells: $dyn")
    // BOTH partition columns are rename/drop-guarded
    intercept[Exception] {
      cs.sql("ALTER TABLE mem.mc.t RENAME COLUMN region TO r")
    }
    intercept[Exception] {
      cs.sql("ALTER TABLE mem.mc.t DROP COLUMN day")
    }
  }

  test("partition DDL: SHOW/ADD/DROP/TRUNCATE with metastore existence") {
    val cs = mounted()
    cs.sql("CREATE TABLE mem.pd.t (part BIGINT, v BIGINT) PARTITIONED BY (part)")
    cs.sql("INSERT INTO mem.pd.t VALUES (1, 10), (2, 20), (2, 21), (5, 50)")
    cs.sql("ALTER TABLE mem.pd.t ADD PARTITION (part=99)")
    def shown() = cs.sql("SHOW PARTITIONS mem.pd.t").collect()
      .map(_.getString(0)).toSet
    // explicit-but-empty AND implicit-from-data both exist
    assert(shown() == Set("part=1", "part=2", "part=5", "part=99"), shown())
    // re-adding an existing partition (registered OR populated) throws
    intercept[Exception] { cs.sql("ALTER TABLE mem.pd.t ADD PARTITION (part=2)") }
    intercept[Exception] { cs.sql("ALTER TABLE mem.pd.t ADD PARTITION (part=99)") }
    // DROP removes data and registration
    cs.sql("ALTER TABLE mem.pd.t DROP PARTITION (part=2)")
    assert(shown() == Set("part=1", "part=5", "part=99"), shown())
    // TRUNCATE PARTITION empties but keeps the slot
    cs.sql("TRUNCATE TABLE mem.pd.t PARTITION (part=5)")
    assert(shown() == Set("part=1", "part=5", "part=99"), shown())
    val rows = cs.sql("SELECT part, v FROM mem.pd.t ORDER BY part")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 10L)), rows)
  }

  test("CHECK constraints: engine-enforced, atomic, ALTER-managed") {
    val cs = mounted()
    cs.sql("CREATE TABLE mem.ck.t (k BIGINT, v BIGINT, " +
      "CONSTRAINT v_pos CHECK (v > 0))")
    cs.sql("INSERT INTO mem.ck.t VALUES (1, 10), (2, 20)")
    // a batch with one bad row commits NOTHING
    val e = intercept[Exception] {
      cs.sql("INSERT INTO mem.ck.t VALUES (3, 30), (4, -1)")
    }
    assert(e.getMessage.contains("v_pos"), e.getMessage)
    assert(cs.sql("SELECT count(*) FROM mem.ck.t").head.getLong(0) == 2,
      "violating batch partially committed")
    // DESCRIBE surfaces the recorded constraint
    val desc = cs.sql("DESCRIBE EXTENDED mem.ck.t").collect()
      .map(_.toString).mkString
    assert(desc.contains("v_pos") && desc.contains("ENFORCED"), desc)
    // DROP lifts the gate; ADD re-arms a new one
    cs.sql("ALTER TABLE mem.ck.t DROP CONSTRAINT v_pos")
    cs.sql("INSERT INTO mem.ck.t VALUES (5, -5)")
    cs.sql("ALTER TABLE mem.ck.t ADD CONSTRAINT k_cap CHECK (k < 100)")
    intercept[Exception] {
      cs.sql("INSERT INTO mem.ck.t VALUES (500, 1)")
    }
    assert(cs.sql("SELECT count(*) FROM mem.ck.t").head.getLong(0) == 3)
    // dropping a missing constraint without IF EXISTS refuses
    intercept[Exception] {
      cs.sql("ALTER TABLE mem.ck.t DROP CONSTRAINT nope")
    }
  }

  test("write-side custom metrics: rows written + overwrite-removed on the query") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val cs = mounted()
    cs.sql("CREATE TABLE mem.wm.t (k BIGINT, v BIGINT)")
    cs.sql("INSERT INTO mem.wm.t VALUES (1, 10), (2, 20), (11, 110)")
    @volatile var captured: QueryExecution = null
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit = captured = qe
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    cs.listenerManager.register(listener)
    try {
      import cs.implicits._
      import org.apache.spark.sql.functions.col
      Seq((1L, 99L), (3L, 33L)).toDF("k", "v")
        .writeTo("mem.wm.t").overwrite(col("k") < 10)
      // the listener bus is async — poll briefly
      var waited = 0
      while (captured == null && waited < 10000) {
        Thread.sleep(100); waited += 100
      }
      assert(captured != null, "write execution not observed")
      val metrics = captured.executedPlan.collect {
        case p if p.metrics.keys.exists(_.startsWith("graft")) => p.metrics
      }.flatten.toMap
      assert(metrics("graft_rows_written").value == 2, metrics.toString)
      // the REPLACE WHERE removed the two k < 10 rows at commit
      assert(metrics("graft_overwrite_removed").value == 2, metrics.toString)
    } finally cs.listenerManager.unregister(listener)
  }

  test("namespace lifecycle: create/show/alter/drop with two-source existence") {
    val cs = mounted()
    // explicit, empty, with properties — declared ahead of its data
    cs.sql("CREATE NAMESPACE mem.fresh WITH PROPERTIES ('team'='graft')")
    intercept[Exception] { cs.sql("CREATE NAMESPACE mem.fresh") }
    // implicit, via a table
    cs.sql("CREATE TABLE mem.lived.t (k BIGINT)")
    val shown = cs.sql("SHOW NAMESPACES IN mem").collect()
      .map(_.getString(0)).toSet
    assert(Set("fresh", "lived").subsetOf(shown), shown)
    // a registered-but-empty namespace lists zero tables, not an error
    assert(cs.sql("SHOW TABLES IN mem.fresh").collect().isEmpty)
    // properties round-trip; ALTER materializes and mutates
    cs.sql("ALTER NAMESPACE mem.fresh SET PROPERTIES ('tier'='gold')")
    val desc = cs.sql("DESCRIBE NAMESPACE EXTENDED mem.fresh").collect()
      .map(_.toString).mkString
    assert(desc.contains("team") && desc.contains("gold"), desc)
    // non-empty drop refuses without CASCADE, obeys with it
    intercept[Exception] { cs.sql("DROP NAMESPACE mem.lived") }
    cs.sql("DROP NAMESPACE mem.lived CASCADE")
    intercept[Exception] { cs.sql("SELECT * FROM mem.lived.t").collect() }
    cs.sql("DROP NAMESPACE mem.fresh")
    val after = cs.sql("SHOW NAMESPACES IN mem").collect()
      .map(_.getString(0)).toSet
    assert(!after.contains("fresh") && !after.contains("lived"), after)
  }

  test("truncate, drop, and re-create") {
    val cs = mounted()
    cs.sql("CREATE TABLE mem.ns.u (k BIGINT)")
    cs.sql("INSERT INTO mem.ns.u VALUES (1), (2)")
    cs.sql("TRUNCATE TABLE mem.ns.u")
    assert(cs.sql("SELECT count(*) FROM mem.ns.u").head().getLong(0) == 0L)
    cs.sql("DROP TABLE mem.ns.u")
    // re-create under the dropped name succeeds (no stale entry)
    cs.sql("CREATE TABLE mem.ns.u (k BIGINT)")
    cs.sql("INSERT INTO mem.ns.u VALUES (7)")
    assert(cs.sql("SELECT sum(k) FROM mem.ns.u").head().getLong(0) == 7L)
    // duplicate create is a proper catalog error
    intercept[AnalysisException] { cs.sql("CREATE TABLE mem.ns.u (k BIGINT)") }
  }

  test("column pruning reaches the connector reader") {
    val cs = mounted()
    // static plan so the BatchScan is reachable by collect (AQE wraps
    // the tree in an opaque AdaptiveSparkPlanExec otherwise)
    cs.conf.set("spark.sql.adaptive.enabled", "false")
    cs.sql("CREATE TABLE mem.ns.w (k BIGINT, v BIGINT, s STRING)")
    cs.sql("INSERT INTO mem.ns.w VALUES (1, 10, 'a'), (2, 20, 'b')")
    val df = cs.sql("SELECT sum(v) AS sv FROM mem.ns.w")
    assert(df.head().getLong(0) == 30L)
    // the scan's read schema carries only the required column
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.scan.readSchema().fieldNames.toSeq == Seq("v"))
  }

  test("CTAS is atomic: a failed write leaves no table behind") {
    val cs = mounted()
    // success path: the staged table becomes visible with its data
    cs.sql("CREATE TABLE mem.ns.ok AS SELECT CAST(id AS BIGINT) AS k FROM range(5)")
    assert(cs.sql("SELECT sum(k) FROM mem.ns.ok").head().getLong(0) == 10L)
    // failure path: the write job dies mid-flight; commitStagedChanges
    // never runs, so the name must stay unbound (no empty husk)
    intercept[Exception] {
      cs.sql(
        """CREATE TABLE mem.ns.husk AS
          |SELECT CASE WHEN id = 3 THEN raise_error('boom')
          |  ELSE CAST(id AS STRING) END AS s FROM range(5)""".stripMargin)
    }
    val e = intercept[AnalysisException] {
      cs.sql("SELECT * FROM mem.ns.husk").collect()
    }
    assert(e.getCondition == "TABLE_OR_VIEW_NOT_FOUND",
      "failed CTAS left a stranded table")
    // REPLACE commits over the old content atomically
    cs.sql("CREATE OR REPLACE TABLE mem.ns.ok AS SELECT CAST(1 AS BIGINT) AS k")
    assert(cs.sql("SELECT sum(k) FROM mem.ns.ok").head().getLong(0) == 1L)
  }

  test("V2 function catalog: magic-invoke scalar function resolves and binds") {
    val cs = mounted()
    // exact kernel vs an independent Scala computation
    val got = cs.sql(
      """SELECT mem.ns.hamming64(v.a, v.b) AS d
        |FROM VALUES (0L, 0L), (1L, 0L), (255L, 0L), (-1L, 0L),
        |  (6148914691236517205L, -6148914691236517206L) AS v(a, b)""".stripMargin)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 1L, 8L, 64L, 64L))
    // binding rejects wrong signatures with the catalog's message
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      cs.sql("SELECT mem.ns.hamming64('x', 1L)").collect()
    }
    assert(e.getMessage.contains("hamming64"))
    // unknown function is a proper catalog error
    intercept[org.apache.spark.sql.AnalysisException] {
      cs.sql("SELECT mem.ns.nosuch(1L)").collect()
    }
  }

  test("V2 function catalog: AGGREGATE function two-phase, exact, rebindable") {
    val cs = mounted()
    // exact XOR fold incl. null-skip and sign bits, vs independent Scala
    val df = cs.sql(
      """SELECT v.k AS k, mem.ns.bitxor(v.x) AS x
        |FROM VALUES (0L, 1L), (0L, 2L), (0L, 4L),
        |  (1L, -1L), (1L, 1L),
        |  (2L, CAST(NULL AS BIGINT)), (2L, 9L),
        |  (3L, CAST(NULL AS BIGINT))
        |AS v(k, x) GROUP BY v.k ORDER BY k""".stripMargin)
    val got = df.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getLong(1)))
      .toSeq
    assert(got == Seq((0L, 7L), (1L, -2L), (2L, 9L), (3L, null)),
      s"bitxor fold wrong: $got")
    // the engine planned a REAL two-phase aggregate around the
    // connector function (map-side partial + final merge) — the
    // map-side-combine-for-free claim, pinned in the (finalized
    // adaptive) plan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case o => o.children.flatMap(flatten)
    }) :+ p
    val aggs = flatten(df.queryExecution.executedPlan).collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
      case a: org.apache.spark.sql.execution.aggregate.SortAggregateExec => a
    }
    assert(aggs.length == 2,
      s"expected partial+final aggregate pair, got ${aggs.length}")
    // binding rejects wrong signatures with the catalog's message
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      cs.sql("SELECT mem.ns.bitxor('x')").collect()
    }
    assert(e.getMessage.contains("bitxor"))
  }

  test("catalog sessions are isolated (rerun-safe registered query)") {
    val a = mounted(); val b = mounted()
    a.sql("CREATE TABLE mem.ns.iso (k BIGINT)")
    // the same name is free in the other session's catalog instance
    b.sql("CREATE TABLE mem.ns.iso (k BIGINT)")
    a.sql("INSERT INTO mem.ns.iso VALUES (1)")
    assert(b.sql("SELECT count(*) FROM mem.ns.iso").head().getLong(0) == 0L)
  }

  test("REPLACE WHERE / dynamic overwrite refuse MoR tables (no resurrection)") {
    import org.apache.spark.sql.functions._
    val cs = mounted()
    cs.sql("CREATE TABLE mem.morow.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('mor'='true')")
    cs.sql("INSERT INTO mem.morow.t VALUES (1, 10), (2, 20)")
    // leave a pending delta in the log: the overwrite-removal path
    // only sees base rows, so accepting would let this stale record
    // resurrect the overwritten slice on the next snapshot()
    cs.sql("UPDATE mem.morow.t SET v = 21 WHERE k = 2")
    import cs.implicits._
    intercept[Exception] {
      Seq((2L, 99L)).toDF("k", "v")
        .writeTo("mem.morow.t").overwrite(col("k") >= 2)
    }
    // the table is untouched by the refused overwrite
    val rows = cs.sql("SELECT k, v FROM mem.morow.t ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows == Seq((1L, 10L), (2L, 21L)), rows)
    // the truncate path (overwrite AlwaysTrue) stays legal on MoR —
    // truncateTable clears BOTH the base and the delta log
    Seq((7L, 70L)).toDF("k", "v").writeTo("mem.morow.t").overwrite(lit(true))
    val after = cs.sql("SELECT k, v FROM mem.morow.t").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after == Seq((7L, 70L)), after)
  }

  test("atomic CTAS keeps PARTITIONED BY (staged path routes partitions)") {
    val cs = mounted()
    cs.sql("CREATE TABLE mem.ctas.p PARTITIONED BY (part) AS " +
      "SELECT CAST(id % 3 AS BIGINT) AS part, id AS v FROM range(9)")
    // the staged table carried the declared layout: SHOW PARTITIONS
    // resolves and dynamic overwrite works on the created table
    val parts = cs.sql("SHOW PARTITIONS mem.ctas.p").collect()
      .map(_.getString(0)).toSet
    assert(parts == Set("part=0", "part=1", "part=2"), parts)
    cs.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    cs.sql("INSERT OVERWRITE mem.ctas.p VALUES (CAST(1 AS BIGINT), CAST(100 AS BIGINT))")
    val counts = cs.sql("SELECT part, count(*) AS c FROM mem.ctas.p GROUP BY part")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(counts == Map(0L -> 3L, 1L -> 1L, 2L -> 3L), counts)
  }

  test("CDC: update=del+ins pair, compaction invisible, range validated") {
    val cs = mounted()
    cs.sql("CREATE TABLE mem.cdc.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('mor'='true')")
    cs.sql("INSERT INTO mem.cdc.t VALUES (1, 10), (2, 20), (3, 30)") // v1
    cs.sql("UPDATE mem.cdc.t SET v = 99 WHERE k = 2")                // v2
    cs.sql("DELETE FROM mem.cdc.t WHERE k = 3")                      // v3
    def changes(from: Long, to: Long) =
      cs.sql(s"CALL mem.sys.changes('cdc.t', ${from}L, ${to}L)")
        .collect()
        .map(r => (r.getLong(3), r.getString(2), r.getLong(0), r.getLong(1)))
        .toSet
    // the update is a delete(old)+insert(new) PAIR at its commit; the
    // untouched rows (1, 10) / (3, 30) appear in NO v2 diff
    assert(changes(1, 2) == Set(
      (2L, "delete", 2L, 20L), (2L, "insert", 2L, 99L)), changes(1, 2))
    assert(changes(2, 3) == Set((3L, "delete", 3L, 30L)), changes(2, 3))
    // the full range is the concatenation of the per-commit diffs
    assert(changes(1, 3) == changes(1, 2) ++ changes(2, 3))
    // an empty range is legal and empty
    assert(changes(2, 2).isEmpty)
    // compaction lands no version and mints no row references: the
    // same diffs replay identically after the fold
    val beforeCompact = changes(1, 3)
    cs.sql("CALL mem.sys.compact('cdc.t')").collect()
    assert(changes(1, 3) == beforeCompact,
      "compaction perturbed the CDC history")
    // out-of-range reads fail loudly, naming the committed span
    val e = intercept[Exception] { changes(1, 9) }
    assert(e.getMessage != null && e.getMessage.contains("versions"),
      s"unhelpful range error: ${e.getMessage}")
    intercept[Exception] { changes(0, 2) }
    intercept[Exception] { changes(3, 1) }
    // binding is typed: wrong arity refuses at analysis
    intercept[Exception] {
      cs.sql("CALL mem.sys.changes('cdc.t', 1L)").collect()
    }
  }

  test("CDC: per-commit delta log ∝ change; reads consume deltas only") {
    import graft.sources.{MemCatalog, MemTable}
    import org.apache.spark.sql.connector.catalog.Identifier
    val cs = mounted()
    cs.sql("CREATE TABLE mem.cdcd.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('mor'='true')")
    cs.sql("INSERT INTO mem.cdcd.t SELECT id, id * 10 FROM " +
      "(SELECT explode(sequence(1, 500)) AS id)")        // v1: 500 inserts
    cs.sql("UPDATE mem.cdcd.t SET v = -1 WHERE k = 250") // v2: 1-row change
    cs.sql("DELETE FROM mem.cdcd.t WHERE k = 100")       // v3: 1-row change
    val cat = cs.sessionState.catalogManager.catalog("mem")
      .asInstanceOf[MemCatalog]
    val t = cat.loadTable(Identifier.of(Array("cdcd"), "t"))
      .asInstanceOf[MemTable]
    // the LANDED change log is ∝ what each commit touched — a 1-row
    // update against the 500-row table logs 2 records, not 500: this
    // is what makes the read O(changed) instead of O(Σ manifests)
    val sizes = t.changeRecCounts
    assert(sizes == Seq((0, 500), (1, 1), (1, 0)),
      s"per-commit delta log not ∝ change: $sizes")
    // and the wide-range read over those deltas answers exactly
    val got = cs.sql("CALL mem.sys.changes('cdcd.t', 1L, 3L)")
      .collect()
      .map(r => (r.getLong(3), r.getString(2), r.getLong(0), r.getLong(1)))
      .toSet
    assert(got == Set(
      (2L, "delete", 250L, 2500L), (2L, "insert", 250L, -1L),
      (3L, "delete", 100L, 1000L)), got)
  }

  test("CDC: a value-preserving UPDATE is invisible (value-multiset semantics)") {
    val cs = mounted()
    cs.sql("CREATE TABLE mem.cdcnp.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('mor'='true')")
    cs.sql("INSERT INTO mem.cdcnp.t VALUES (1, 10), (2, 20)")  // v1
    // a rewrite that changes nothing: the engine mints a new delta
    // record (new MemRow reference) but the value multiset is
    // unchanged — the oracle's EXCEPT ALL replay emits nothing, so
    // the CDC read must emit nothing either
    cs.sql("UPDATE mem.cdcnp.t SET v = v WHERE k = 2")          // v2
    cs.sql("UPDATE mem.cdcnp.t SET v = 99 WHERE k = 1")         // v3
    def changes(from: Long, to: Long) =
      cs.sql(s"CALL mem.sys.changes('cdcnp.t', ${from}L, ${to}L)")
        .collect()
        .map(r => (r.getLong(3), r.getString(2), r.getLong(0), r.getLong(1)))
        .toSet
    assert(changes(1, 2).isEmpty,
      s"value-preserving update leaked into CDC: ${changes(1, 2)}")
    // the real update still surfaces, and the full range ≡ v3 alone
    assert(changes(1, 3) == Set(
      (3L, "delete", 1L, 10L), (3L, "insert", 1L, 99L)), changes(1, 3))
    // MULTISET, not set, semantics — on a CoW table (the MoR store
    // keys rows by the first column, so duplicate row IDS are out of
    // its contract): two value-equal rows deleted in one commit must
    // emit TWO delete records (an EXCEPT ALL replay counts
    // multiplicity), and a same-commit re-insert of ONE copy cancels
    // exactly one of them
    cs.sql("CREATE TABLE mem.cdcnp.u (k BIGINT, v BIGINT)")
    cs.sql("INSERT INTO mem.cdcnp.u VALUES (2, 20), (2, 20), (9, 90)") // v1
    cs.sql("DELETE FROM mem.cdcnp.u WHERE k = 2")                      // v2
    val d12 = cs.sql("CALL mem.sys.changes('cdcnp.u', 1L, 2L)")
      .collect()
      .map(r => (r.getLong(3), r.getString(2), r.getLong(0), r.getLong(1)))
      .toSeq.sorted
    assert(d12 == Seq((2L, "delete", 2L, 20L), (2L, "delete", 2L, 20L)),
      s"multiset delete lost multiplicity: $d12")
  }

  test("partition-pruned read: tuple predicate ships one cell of many") {
    import graft.sources.MemTable
    val cs = mounted()
    cs.sql("CREATE TABLE mem.pr.t (day BIGINT, region BIGINT, v BIGINT) " +
      "PARTITIONED BY (day, region)")
    cs.sql("INSERT INTO mem.pr.t SELECT id % 4, id % 3, id FROM " +
      "(SELECT explode(sequence(0, 119)) AS id)")
    // tuple predicate: the scan accepts both partition-column filters
    // and ships exactly ONE of the 12 (day, region) tuples
    MemTable.lastScanPartsTotal.set(-1)
    val hit = cs.sql(
      "SELECT v FROM mem.pr.t WHERE day = 3 AND region = 1 ORDER BY v")
      .collect().map(_.getLong(0)).toSeq
    assert(hit == (0L until 120L).filter(i => i % 4 == 3 && i % 3 == 1),
      s"pruned read answered wrong: $hit")
    assert(MemTable.lastScanPartsTotal.get() == 12,
      s"expected 12 tuples present, saw ${MemTable.lastScanPartsTotal.get()}")
    assert(MemTable.lastScanPartsKept.get() == 1,
      s"tuple predicate shipped ${MemTable.lastScanPartsKept.get()} cells")
    // the pushed filters surface in the scan node (DSv2 shows them)
    val df = cs.sql("SELECT v FROM mem.pr.t WHERE day = 3 AND region = 1")
    df.collect()
    // node-type assertion, not a rendered-string match: collect the
    // FilterExec nodes from the executed plan (string forms vary
    // across Spark plan-rendering versions)
    def filterNodes(p: org.apache.spark.sql.execution.SparkPlan) =
      p.collect { case f: org.apache.spark.sql.execution.FilterExec => f }
    assert(filterNodes(df.queryExecution.executedPlan).isEmpty,
      "engine re-filters what the scan already evaluated exactly:\n" +
        df.queryExecution.executedPlan.toString)
    // a NON-partition predicate is NOT accepted: the engine keeps it
    // (a Filter node above the scan), and the scan ships every tuple
    // that survives any partition-column conjuncts (here: all of them)
    MemTable.lastScanPartsTotal.set(-1)
    MemTable.lastScanPartsKept.set(-1)
    val df2 = cs.sql("SELECT v FROM mem.pr.t WHERE v = 7")
    assert(df2.collect().map(_.getLong(0)).toSeq == Seq(7L))
    assert(MemTable.lastScanPartsTotal.get() == -1 &&
      MemTable.lastScanPartsKept.get() == -1,
      "a non-partition filter was pushed to the store")
    assert(filterNodes(df2.queryExecution.executedPlan).nonEmpty,
      "engine dropped the residual non-partition filter:\n" +
        df2.queryExecution.executedPlan.toString)
    // mixed predicate: the partition half prunes, the rest stays
    MemTable.lastScanPartsKept.set(-1)
    val df3 = cs.sql("SELECT v FROM mem.pr.t WHERE day = 3 AND v >= 0")
    assert(df3.collect().length == 30)
    assert(MemTable.lastScanPartsKept.get() == 3,
      s"day=3 should keep 3 region cells, kept " +
        s"${MemTable.lastScanPartsKept.get()}")
    // the GATED query itself prunes: catalog_pruned_read's read ships
    // one (day, region) cell of the twelve its seed data populates
    MemTable.lastScanPartsTotal.set(-1)
    MemTable.lastScanPartsKept.set(-1)
    assert(graft.sources.StorageOps.catalogPrunedRead(spark, sfDir)
      .collect().length > 0)
    assert(MemTable.lastScanPartsTotal.get() == 12 &&
      MemTable.lastScanPartsKept.get() == 1,
      s"gated pruned read shipped ${MemTable.lastScanPartsKept.get()} of " +
        s"${MemTable.lastScanPartsTotal.get()} cells")
    // partial-SHOW with a non-partition column: the ENGINE
    // pre-validates the spec (AnalysisException before the store is
    // consulted) — and the store's own guard, reachable only through
    // the direct API, is AnalysisException-family too, matching the
    // other partition-DDL error paths
    intercept[AnalysisException] {
      cs.sql("SHOW PARTITIONS mem.pr.t PARTITION (v=1)").collect()
    }
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    val t = cs.sessionState.catalogManager.catalog("mem")
      .asInstanceOf[TableCatalog]
      .loadTable(Identifier.of(Array("pr"), "t"))
      .asInstanceOf[graft.sources.MemTable]
    val e = intercept[AnalysisException] {
      t.listPartitionIdentifiers(Array("v"),
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(Seq(1L)))
    }
    assert(e.getCondition == "NON_PARTITION_COLUMN", e.getCondition)
  }

  test("time travel: version manifests are immutable under compaction") {
    import graft.sources.{MemCatalog, MemTable}
    import org.apache.spark.sql.connector.catalog.Identifier
    val cs = mounted()
    cs.sql("CREATE TABLE mem.tt.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('mor'='true')")
    cs.sql("INSERT INTO mem.tt.t VALUES (1, 10), (2, 20), (3, 30)") // v1
    cs.sql("UPDATE mem.tt.t SET v = v + 5 WHERE k = 2")             // v2
    cs.sql("DELETE FROM mem.tt.t WHERE k = 3")                      // v3
    def at(v: Int) = cs.sql(
      s"SELECT k, v FROM mem.tt.t VERSION AS OF $v ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (v1, v2, v3) = (at(1), at(2), at(3))
    assert(v1 == Seq((1L, 10L), (2L, 20L), (3L, 30L)), v1)
    assert(v2 == Seq((1L, 10L), (2L, 25L), (3L, 30L)), v2)
    assert(v3 == Seq((1L, 10L), (2L, 25L)), v3)
    // compaction rewrites the LIVE base; landed manifests keep their
    // own row references — every versioned read is byte-identical
    cs.sql("CALL mem.sys.compact('tt.t')").collect()
    assert(at(1) == v1 && at(2) == v2 && at(3) == v3,
      "compaction perturbed a landed version manifest")
    // compaction itself lands no version (content-neutral): the next
    // ordinal after v3 is still unbound
    val t = cs.sessionState.catalogManager.catalog("mem")
      .asInstanceOf[MemCatalog]
      .loadTable(Identifier.of(Array("tt"), "t")).asInstanceOf[MemTable]
    assert(t.versionCount == 3, s"versions: ${t.versionCount}")
    intercept[Exception] {
      cs.sql("SELECT * FROM mem.tt.t VERSION AS OF 4").collect()
    }
    intercept[Exception] {
      cs.sql("SELECT * FROM mem.tt.t VERSION AS OF 0").collect()
    }
    // a later commit appends v4 without renumbering the past
    cs.sql("INSERT INTO mem.tt.t VALUES (9, 90)")
    assert(at(4).contains((9L, 90L)) && at(1) == v1)
  }

  test("time travel: TIMESTAMP AS OF resolves the latest commit <= instant") {
    val cs = mounted()
    cs.conf.set("spark.sql.session.timeZone", "UTC")
    cs.sql("CREATE TABLE mem.ts.t (k BIGINT, v BIGINT)")
    cs.sql("INSERT INTO mem.ts.t VALUES (1, 10)")          // v1
    Thread.sleep(5)
    val between = java.time.Instant.now()                   // v1 < t < v2
    Thread.sleep(5)
    cs.sql("INSERT INTO mem.ts.t VALUES (2, 20)")          // v2
    def fmt(i: java.time.Instant): String =
      java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC).format(i)
    val atBetween = cs.sql(
      s"SELECT k FROM mem.ts.t TIMESTAMP AS OF '${fmt(between)}' ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(atBetween == Seq(1L), s"between-commits read: $atBetween")
    val atNow = cs.sql(
      s"SELECT k FROM mem.ts.t TIMESTAMP AS OF " +
        s"'${fmt(java.time.Instant.now().plusSeconds(1))}' ORDER BY k")
      .collect().map(_.getLong(0)).toSeq
    assert(atNow == Seq(1L, 2L), s"post-commit read: $atNow")
    // an instant before the first commit has no table state to serve
    intercept[Exception] {
      cs.sql("SELECT k FROM mem.ts.t TIMESTAMP AS OF '2000-01-01 00:00:00'")
        .collect()
    }
  }

  test("RENAME/DROP of the partition column are refused, table stays usable") {
    val cs = mounted()
    cs.sql("CREATE TABLE mem.pc.t (part BIGINT, v BIGINT) PARTITIONED BY (part)")
    cs.sql("INSERT INTO mem.pc.t VALUES (1, 10), (2, 20)")
    intercept[Exception] {
      cs.sql("ALTER TABLE mem.pc.t RENAME COLUMN part TO p2")
    }
    intercept[Exception] {
      cs.sql("ALTER TABLE mem.pc.t DROP COLUMN part")
    }
    // partition machinery still resolves after the refused changes
    val parts = cs.sql("SHOW PARTITIONS mem.pc.t").collect()
      .map(_.getString(0)).toSet
    assert(parts == Set("part=1", "part=2"), parts)
    // non-partition columns still rename fine
    cs.sql("ALTER TABLE mem.pc.t RENAME COLUMN v TO w")
    assert(cs.sql("SELECT sum(w) FROM mem.pc.t").head().getLong(0) == 30L)
  }

  test("CALL expire: retention drops versions, reads + CDC refuse loudly") {
    import graft.sources.{MemCatalog, MemTable}
    import org.apache.spark.sql.connector.catalog.Identifier
    val cs = mounted()
    cs.sql("CREATE TABLE mem.ex.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('mor'='true')")
    cs.sql("INSERT INTO mem.ex.t VALUES (1, 10), (2, 20), (3, 30)") // v1
    Thread.sleep(5)
    val afterV1 = java.time.Instant.now()                 // v1 < t < v2
    Thread.sleep(5)
    cs.sql("UPDATE mem.ex.t SET v = v + 5 WHERE k = 2")             // v2
    cs.sql("DELETE FROM mem.ex.t WHERE k = 3")                      // v3 purge
    cs.sql("INSERT INTO mem.ex.t VALUES (4, 40)")                   // v4
    def at(v: Int) = cs.sql(
      s"SELECT k, v FROM mem.ex.t VERSION AS OF $v ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    def chainHas(e: Throwable, needle: String): Boolean = {
      def chain(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: chain(t.getCause)
      chain(e).exists(c => Option(c.getMessage).exists(_.contains(needle)))
    }
    // keep_n floor: retention may never break the live chain
    val floor = intercept[Exception] {
      cs.sql("CALL mem.sys.expire('ex.t', 0L)").collect()
    }
    assert(chainHas(floor, "keep_n >= 1"), floor.getMessage)
    // expire all but the newest two → v1, v2 gone; summary accounts
    val sum1 = cs.sql("CALL mem.sys.expire('ex.t', 2L)").head()
    assert((sum1.getLong(0), sum1.getLong(1), sum1.getLong(2)) ==
      ((2L, 2L, 3L)), sum1.toString)
    // retained versions and live read serve exactly the chain replay
    assert(at(3) == Seq((1L, 10L), (2L, 25L)), at(3))
    assert(at(4) == Seq((1L, 10L), (2L, 25L), (4L, 40L)), at(4))
    // purged row (k=3) is unreachable at EVERY readable version
    assert(!(at(3) ++ at(4)).exists(_._1 == 3L))
    // expired VERSION AS OF reads fail loudly, not silently re-serve
    for (v <- Seq(1, 2)) {
      val e = intercept[Exception] { at(v) }
      assert(chainHas(e, "has been expired"), s"v$v: $e")
    }
    // TIMESTAMP AS OF landing on an expired version refuses too —
    // never a silent snap to the first live version
    def fmt(i: java.time.Instant): String =
      java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC).format(i)
    val ts = intercept[Exception] {
      cs.sql(s"SELECT k FROM mem.ex.t TIMESTAMP AS OF '${fmt(afterV1)}'")
        .collect()
    }
    assert(chainHas(ts, "has been expired"), ts.getMessage)
    // CDC: a range whose baseline is the expiry boundary still serves
    // (needs only live deltas); one reaching further back refuses —
    // a partial diff would silently drop changes
    val ok = cs.sql("CALL mem.sys.changes('ex.t', 2L, 4L)")
      .collect().map(r => (r.getLong(0), r.getString(2))).sorted.toSeq
    assert(ok == Seq((3L, "delete"), (4L, "insert")), ok.toString)
    val cdc = intercept[Exception] {
      cs.sql("CALL mem.sys.changes('ex.t', 1L, 4L)").collect()
    }
    assert(chainHas(cdc, "covers expired commits"), cdc.getMessage)
    // idempotent / monotonic: same keep_n again expires nothing new,
    // and a LARGER keep_n never un-expires
    val sum2 = cs.sql("CALL mem.sys.expire('ex.t', 2L)").head()
    assert(sum2.getLong(0) == 0L && sum2.getLong(2) == 3L, sum2.toString)
    val sum3 = cs.sql("CALL mem.sys.expire('ex.t', 10L)").head()
    assert(sum3.getLong(0) == 0L && sum3.getLong(2) == 3L, sum3.toString)
    intercept[Exception] { at(1) }
    // later commits append fresh ordinals; the new version is readable
    cs.sql("INSERT INTO mem.ex.t VALUES (9, 90)")                   // v5
    assert(at(5).contains((9L, 90L)))
    val t = cs.sessionState.catalogManager.catalog("mem")
      .asInstanceOf[MemCatalog]
      .loadTable(Identifier.of(Array("ex"), "t")).asInstanceOf[MemTable]
    assert(t.versionCount == 5 && t.expiredVersionCount == 2)
  }

  test("CALL tag/untag: named refs resolve, protect from expire, and " +
    "release on drop") {
    import graft.sources.{MemCatalog, MemTable}
    import org.apache.spark.sql.connector.catalog.Identifier
    val cs = mounted()
    cs.sql("CREATE TABLE mem.tg.t (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES('mor'='true')")
    cs.sql("INSERT INTO mem.tg.t VALUES (1, 10), (2, 20)")         // v1
    cs.sql("UPDATE mem.tg.t SET v = v + 5 WHERE k = 2")            // v2
    cs.sql("INSERT INTO mem.tg.t VALUES (3, 30)")                  // v3
    def chainHas(e: Throwable, needle: String): Boolean = {
      def chain(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: chain(t.getCause)
      chain(e).exists(c => Option(c.getMessage).exists(_.contains(needle)))
    }
    // tag v1; reads by name ≡ reads by ordinal
    assert(cs.sql("CALL mem.sys.tag('tg.t', 'audit', 1L)")
      .head().getLong(0) == 1L)
    def at(v: String) = cs.sql(
      s"SELECT k, v FROM mem.tg.t VERSION AS OF $v ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(at("'audit'") == at("1"))
    // tags are immutable: re-tagging the name refuses
    val dup = intercept[Exception] {
      cs.sql("CALL mem.sys.tag('tg.t', 'audit', 2L)").collect()
    }
    assert(chainHas(dup, "already exists"), dup.getMessage)
    // retention clamps below the oldest tag: keep_n=1 wants v1..v2
    // gone but 'audit'@v1 pins everything — nothing expires
    val s1 = cs.sql("CALL mem.sys.expire('tg.t', 1L)").head()
    assert(s1.getLong(0) == 0L && s1.getLong(2) == 1L, s1.toString)
    assert(at("'audit'") == at("1")) // still readable
    // drop the tag → the same sweep now takes v1 and v2
    assert(cs.sql("CALL mem.sys.untag('tg.t', 'audit')")
      .head().getLong(0) == 1L)
    val s2 = cs.sql("CALL mem.sys.expire('tg.t', 1L)").head()
    assert(s2.getLong(0) == 2L && s2.getLong(2) == 3L, s2.toString)
    intercept[Exception] { at("1") }
    // tagging an expired version refuses; unknown tag at the API
    // grain carries the store's own message (the engine path maps a
    // missing ref to its unresolvable-relation error — pinned in the
    // catalog_tag gate; here no engine sits in between)
    val stale = intercept[Exception] {
      cs.sql("CALL mem.sys.tag('tg.t', 'stale', 1L)").collect()
    }
    assert(chainHas(stale, "has been expired"), stale.getMessage)
    val cat = cs.sessionState.catalogManager.catalog("mem")
      .asInstanceOf[MemCatalog]
    val miss = intercept[Exception] {
      cat.loadTable(Identifier.of(Array("tg"), "t"), "ghost")
    }
    assert(chainHas(miss, "is neither on"), miss.getMessage)
    // unknown tag on untag refuses too
    val missDrop = intercept[Exception] {
      cs.sql("CALL mem.sys.untag('tg.t', 'ghost')").collect()
    }
    assert(chainHas(missDrop, "no such tag"), missDrop.getMessage)
    // all-numeric tag names refuse at create time: atVersion parses
    // ordinals before tags, so '2024' would be creatable but never
    // resolvable (VERSION AS OF '2024' reads ordinal 2024 instead)
    val numeric = intercept[Exception] {
      cs.sql("CALL mem.sys.tag('tg.t', '2024', 2L)").collect()
    }
    assert(chainHas(numeric, "all-numeric tag names are reserved"),
      numeric.getMessage)
  }

  test("branch/publish: write-audit-publish lifecycle — staged writes " +
    "invisible at main, audit gates publish, fast-forward only") {
    val cs = mounted()
    cs.sql("CREATE TABLE mem.br.t (k BIGINT, v BIGINT, " +
      "CONSTRAINT v_pos CHECK (v > 0))")
    cs.sql("INSERT INTO mem.br.t VALUES (1, 10), (2, 20)")          // v1
    def chainHas(e: Throwable, needle: String): Boolean = {
      def chain(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: chain(t.getCause)
      chain(e).exists(c => Option(c.getMessage).exists(_.contains(needle)))
    }
    def rowsOf(from: String): Set[(Long, Long)] =
      cs.sql(s"SELECT k, v FROM $from").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cs.sql("CALL mem.sys.branch('br.t', 'wap')")
      .head().getLong(0) == 1L)
    // numeric branch names and ref collisions refuse at create
    val num = intercept[Exception] {
      cs.sql("CALL mem.sys.branch('br.t', '7')").collect() }
    assert(chainHas(num, "reserved for"), num.getMessage)
    val dup = intercept[Exception] {
      cs.sql("CALL mem.sys.branch('br.t', 'wap')").collect() }
    assert(chainHas(dup, "already exists"), dup.getMessage)
    // branch writes are UNCHECKED (WAP stages first) and invisible
    // at main; both branch addresses serve base + staged
    cs.sql("INSERT INTO mem.br.t.branch_wap VALUES (3, 30), (4, -4)")
    assert(rowsOf("mem.br.t") == Set((1L, 10L), (2L, 20L)),
      "staged rows leaked into main")
    val staged = Set((1L, 10L), (2L, 20L), (3L, 30L), (4L, -4L))
    assert(rowsOf("mem.br.t.branch_wap") == staged)
    assert(rowsOf("mem.br.t VERSION AS OF 'wap'") == staged)
    // the audit refuses the publish (v = -4 violates v_pos) and main
    // is untouched; the branch survives for repair
    val bad = intercept[Exception] {
      cs.sql("CALL mem.sys.publish('br.t', 'wap')").collect() }
    assert(chainHas(bad, "audit failed"), bad.getMessage)
    assert(rowsOf("mem.br.t") == Set((1L, 10L), (2L, 20L)))
    assert(rowsOf("mem.br.t.branch_wap") == staged)
    // repair: drop, re-branch, stage only clean rows, publish — ONE
    // new version lands and the ref is gone
    assert(cs.sql("CALL mem.sys.drop_branch('br.t', 'wap')")
      .head().getLong(0) == 1L)
    cs.sql("CALL mem.sys.branch('br.t', 'wap2')").collect()
    cs.sql("INSERT INTO mem.br.t.branch_wap2 VALUES (3, 30)")
    val pub = cs.sql("CALL mem.sys.publish('br.t', 'wap2')").head()
    assert(pub.getLong(0) == 2L && pub.getLong(1) == 1L, pub.toString)
    assert(rowsOf("mem.br.t") == Set((1L, 10L), (2L, 20L), (3L, 30L)))
    assert(rowsOf("mem.br.t VERSION AS OF 2") ==
      Set((1L, 10L), (2L, 20L), (3L, 30L)))
    val gone = intercept[Exception] {
      cs.sql("SELECT * FROM mem.br.t VERSION AS OF 'wap2'").collect() }
    assert(chainHas(gone, "is neither on") ||
      chainHas(gone, "TABLE_OR_VIEW_NOT_FOUND"), gone.getMessage)
    // fast-forward contract: main advancing past the branch base
    // makes the branch unpublishable (a diverged main needs a rebase)
    cs.sql("CALL mem.sys.branch('br.t', 'slow')").collect()
    cs.sql("INSERT INTO mem.br.t.branch_slow VALUES (5, 50)")
    cs.sql("INSERT INTO mem.br.t VALUES (6, 60)")                   // v3
    val ff = intercept[Exception] {
      cs.sql("CALL mem.sys.publish('br.t', 'slow')").collect() }
    assert(chainHas(ff, "not a fast-forward"), ff.getMessage)
    // the recovery verb: rebase moves the base to the current head
    // (conflict-free for append-only staging) and the publish retries
    assert(cs.sql("CALL mem.sys.rebase('br.t', 'slow')")
      .head().getLong(0) == 3L)
    assert(rowsOf("mem.br.t VERSION AS OF 'slow'") ==
      Set((1L, 10L), (2L, 20L), (3L, 30L), (6L, 60L), (5L, 50L)),
      "rebased branch view must be new head + staged appends")
    val pub2 = cs.sql("CALL mem.sys.publish('br.t', 'slow')").head()
    assert(pub2.getLong(0) == 4L && pub2.getLong(1) == 1L, pub2.toString)
    assert(rowsOf("mem.br.t") ==
      Set((1L, 10L), (2L, 20L), (3L, 30L), (6L, 60L), (5L, 50L)))
    // expire clamps below the branch base: keep_n=1 on a 4-version
    // chain with a live branch based at v4 expires only v1..v3
    import graft.sources.{MemCatalog, MemTable}
    import org.apache.spark.sql.connector.catalog.Identifier
    cs.sql("CALL mem.sys.branch('br.t', 'keep2')").collect()        // base v4
    cs.sql("INSERT INTO mem.br.t VALUES (7, 70)")                   // v5
    val t = cs.sessionState.catalogManager.catalog("mem")
      .asInstanceOf[MemCatalog]
      .loadTable(Identifier.of(Array("br"), "t")).asInstanceOf[MemTable]
    val r = cs.sql("CALL mem.sys.expire('br.t', 1L)").head()
    assert(r.getLong(0) == 3L, s"expire took ${r.getLong(0)}, wanted 3 " +
      "(clamp below branch base v4)")
    assert(t.expiredVersionCount == 3)
    // the branch view still reads (its base manifest survived)
    assert(rowsOf("mem.br.t VERSION AS OF 'keep2'") ==
      Set((1L, 10L), (2L, 20L), (3L, 30L), (6L, 60L), (5L, 50L)))
  }
}
