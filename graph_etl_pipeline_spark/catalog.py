"""Client API surface (SURVEY.md §2.11) — the engine's analogue of the
reference's Neo4jDatabase class (reference: src/db/neo4j_db.py)."""

from __future__ import annotations

import threading
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession

from graph_etl_pipeline_spark.io import TABLES, read_parquet, table
from graph_etl_pipeline_spark.session import is_connected  # noqa: F401  (re-export)


@dataclass
class _Snapshot:
    key: tuple  # (semanticHash of the view's plan, sorted input files)
    df: DataFrame | None  # the persisted view; None: the view is scanned
    version: object = None  # JVM identity set: the view's catalog entry the key is for
    measured: bool = False  # filled whole and found within the threshold


# Local temp view name -> its snapshot. An entry never outlives its key:
# the key is computed again whenever the view's catalog entry is another
# object than the one it was computed for, and a new key releases the
# snapshot. _READS maps a SQL text to the views its plan read when it was
# last walked. _LOCK guards each check-then-act on both.
_SNAPSHOTS: dict[str, _Snapshot] = {}
_READS: dict[str, list[str]] = {}
_READS_MAX = 256
_LOCK = threading.Lock()


def query(spark: SparkSession, sql: str, **params) -> list[dict]:
    """Parameterized SQL in, list-of-dicts out (reference:
    src/db/neo4j_db.py:93-106 `query(cypher, params)`).

    Parameters bind as literals via spark.sql's named-parameter support —
    injection-safe like the reference's $param Cypher (SURVEY §4.1).

    Repeated lookups over small relations are served from memory, the way
    the reference serves them from Neo4j's indexed store: each local temp
    view the analyzed plan reads (a ``View`` node with ``isTempView()``,
    in the plan or its subqueries) is snapshotted in Spark's in-memory
    cache (MEMORY_ONLY), once per view version.

    - **Key.** A snapshot is keyed on the view plan's ``semanticHash()``
      plus the sorted input files of its file relations. A view replaced
      by ``createOrReplaceTempView`` with another plan, or re-read after
      its files changed, gets a new key; the old snapshot is released
      before the new one is taken, so no snapshot is ever served under a
      key other than the view's current one. The plan is walked and the
      keys computed only for a new SQL text or after one of the views it
      read was replaced; otherwise a call costs one identity check per
      view.
    - **Gate.** ``spark.sql.autoBroadcastJoinThreshold``, the size Spark
      already ships whole to every task; a value <= 0 releases every
      snapshot and takes none. A view whose optimizer estimate is over
      it is scanned. A view with no estimate (>=
      ``spark.sql.defaultSizeInBytes``, e.g. one over ``createDataFrame``
      rows) is snapshotted lazily; once a query has filled it, its
      measured in-memory size decides, as it does for every snapshot.
      One measured over the threshold is released, and the view is
      scanned for the rest of that key's life.
    - **Sharing.** Spark's cache manager matches cached plans by result,
      so it also serves a snapshot to any other plan over the same
      relation (say, the DataFrame the view was made from). The data is
      identical; the plans and job counts of those queries differ. Files
      rewritten outside Spark need a re-read view, as for any cached
      relation.

    ``clear_all`` releases every snapshot; the entry of a dropped view
    (whose cached data Spark drops with it) goes at the next plan walk."""
    df = spark.sql(sql, args=params) if params else spark.sql(sql)
    with _LOCK:
        unmeasured = _snapshot_views(spark, sql, df)
    rows = [row.asDict(recursive=True) for row in df.collect()]
    with _LOCK:
        for snap in unmeasured:
            _measure(spark, snap)
    return rows


def _snapshot_views(spark: SparkSession, sql: str, df: DataFrame) -> list[_Snapshot]:
    """Bring the registry in line with the views the query reads; returns
    their snapshots that are not measured yet."""
    state = spark._jsparkSession.sessionState()
    limit = state.conf().autoBroadcastJoinThreshold()
    if limit <= 0:
        _release_all()
        return []
    catalog = state.catalog()
    names = _READS.get(sql)
    if names is None or not all(_unchanged(catalog, name) for name in names):
        if len(_READS) >= _READS_MAX:
            _READS.clear()
        plan = df._jdf.queryExecution().analyzed()
        names = _READS[sql] = _walk(spark, catalog, plan, limit)
    snaps = (_SNAPSHOTS[name] for name in names)
    return [snap for snap in snaps if snap.df is not None and not snap.measured]


def _unchanged(catalog, name: str) -> bool:
    """Whether the view is still the catalog entry its key was computed for."""
    snap = _SNAPSHOTS.get(name)
    if snap is None:
        return False
    try:
        entry = catalog.getRawTempView(name).get()
    except Py4JJavaError:  # the view was dropped
        return False
    return snap.version.containsKey(entry.tableMeta())


def _walk(spark: SparkSession, catalog, plan, limit: int) -> list[str]:
    """Key every view ``plan`` reads, release the snapshots whose key
    changed or whose view was dropped, and snapshot the views that have
    none; returns the views' names."""
    views = _temp_views(plan)
    for name in _SNAPSHOTS.keys() - views.keys():
        if catalog.getRawTempView(name).isEmpty():
            _release(name)
    for name, view in views.items():
        key = _view_key(view)
        snap = _SNAPSHOTS.get(name)
        if snap is None or snap.key != key:
            _release(name)
            snap = _SNAPSHOTS[name] = _Snapshot(key, _persist(spark, name, view, limit))
        # the view's catalog entry (its CatalogTable) is one object per
        # createOrReplaceTempView, shared by every plan that reads it
        snap.version = spark._jvm.java.util.IdentityHashMap()
        snap.version.put(view.desc(), True)
    return list(views)


def _temp_views(plan) -> dict:
    """Name -> ``View`` node of each local temp view the analyzed plan
    reads, in the plan or its subqueries; a view's own plan is not
    searched."""
    subqueries = plan.subqueriesAll()
    stack = [plan] + [subqueries.apply(i) for i in range(subqueries.size())]
    views = {}
    while stack:
        node = stack.pop()
        if node.nodeName() == "View":
            ident = node.desc().identifier()
            if node.isTempView() and ident.database().isEmpty():
                views[ident.table()] = node
            continue
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return views


def _view_key(view) -> tuple:
    leaves = view.collectLeaves()
    files = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.nodeName() == "LogicalRelation":
            relation = leaf.relation()
            if relation.getClass().getSimpleName() == "HadoopFsRelation":
                files.extend(relation.inputFiles())
    return view.semanticHash(), tuple(sorted(files))


def _persist(spark: SparkSession, name: str, view, limit: int) -> DataFrame | None:
    """Persist the view unless it is already cached (the cache is not
    ours to release) or its size estimate is known and over ``limit``."""
    jss = spark._jsparkSession
    if jss.sharedState().cacheManager().lookupCachedData(jss, view).isDefined():
        return None
    size = view.stats().sizeInBytes()
    if limit < size < jss.sessionState().conf().defaultSizeInBytes():
        return None
    return spark.table(name).persist(StorageLevel.MEMORY_ONLY)


def _measure(spark: SparkSession, snap: _Snapshot) -> None:
    """After a query has read the snapshot: release it if its in-memory
    size is over the threshold (the entry stays, so the view is scanned
    until its key changes), and keep it for good once it is filled whole
    within the threshold."""
    if snap.df is None:  # released meanwhile
        return
    jss = spark._jsparkSession
    cached = jss.sharedState().cacheManager().lookupCachedData(snap.df._jdf)
    if cached.isEmpty():  # Spark dropped it
        snap.df = None
        return
    buffers = cached.get().cachedRepresentation().cacheBuilder()
    if buffers.sizeInBytesStats().value() > jss.sessionState().conf().autoBroadcastJoinThreshold():
        _unpersist(snap)
    elif buffers.isCachedColumnBuffersLoaded():
        snap.measured = True


def _release(name: str) -> None:
    snap = _SNAPSHOTS.pop(name, None)
    if snap is not None:
        _unpersist(snap)


def _release_all() -> None:
    for name in list(_SNAPSHOTS):
        _release(name)


def _unpersist(snap: _Snapshot) -> None:
    if snap.df is not None:
        snap.df.unpersist(blocking=True)
        snap.df = None


def register_tables(spark: SparkSession, sf_dir: str) -> None:
    """Expose the test tables as temp views so `query()` can address them
    by name (the engine's catalog bootstrap)."""
    for name in TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


def get_stats(spark: SparkSession, sf_dir: str) -> dict:
    """Catalog walk + counts (reference: src/db/neo4j_db.py:122-149
    get_stats — `CALL db.labels()` + per-label count + edge count). The
    reference's 1+N+1 sequential round-trips become N parallel jobs over
    cached metadata; per-table parquet row counts come from footer
    statistics, not scans."""
    # plain reads (no parallelism floor / broadcast hints) so counts come
    # from parquet footer metadata, not scans; nanosAsLong lets the events
    # nano-timestamp file load for counting
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    counts = {
        name: read_parquet(spark, f"{sf_dir}/{name}.parquet").count()
        for name in TABLES
    }
    return {
        "tables": counts,
        "total_rows": sum(counts.values()),
        "n_tables": len(counts),
    }


def clear_all(spark: SparkSession) -> int:
    """S8 truncate-all (reference: src/db/neo4j_db.py:151-158 — `MATCH (n)
    DETACH DELETE n`). Engine-side: drop every registered temp view and
    release every snapshot ``query`` took; table storage is immutable test
    data so views are the mutable layer."""
    dropped = 0
    for name in list(spark.catalog.listTables()):
        if name.isTemporary:
            spark.catalog.dropTempView(name.name)
            dropped += 1
    with _LOCK:
        _release_all()
    return dropped


def sample(spark: SparkSession, sf_dir: str, name: str, n: int = 10) -> DataFrame:
    """LIMIT-n sample (reference README.md:60 sample queries)."""
    return table(spark, sf_dir, name).limit(n)
