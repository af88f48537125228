"""Full-registry sweep: every registered query must (a) run at sf0.001,
(b) survive the DRIVER's result-conversion path — collect() rows fed to
a pandas DataFrame, which is where the r3 `facts_history` red row died
(a TIMESTAMP '9999-12-31' sentinel overflows pandas' ns datetime64
range even though Spark and DuckDB both handle it fine) — and (c) leave
the session clean: zero cached RDD blocks and zero /tmp staging or
checkpoint trees beyond the session-cached streaming drop-boxes that
are removed at interpreter exit.

One sweep, three invariants, so the registry pays the ~110-query cost
once. Runs at sf0.001 (smoke scale): the point is conversion safety and
resource hygiene, not value parity — the oracle tests own that.
"""

import glob
import os

import pandas as pd

from recon_spark.queries import QUERIES
from tests.conftest import SF_SMOKE


def _tmp_trees() -> set:
    return set(glob.glob("/tmp/recon_*"))


def _cached_rdds(spark) -> list:
    info = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return [str(i) for i in info]


def _allowed_staging_roots() -> set:
    """Every /tmp tree the streaming twins are ALLOWED to hold for the
    session: the cached drop-box/checkpoint roots, all registered for
    removal at exit. Anything else a query leaves behind is a leak."""
    from recon_spark.queries import pipeline as qp

    allowed = set()
    for src, chk in qp._STREAM_STAGING.values():
        allowed.update((src, chk))
    for src, chk in qp._CONTIN_STAGING.values():
        allowed.update((src, chk))
    allowed.update(qp._WARC_STAGING.values())
    allowed.update(qp._WARC_MESSY_STAGING.values())
    allowed.update(qp._WET_STAGING.values())
    allowed.update(qp._WAT_STAGING.values())
    from recon_spark.queries import extra as qe

    allowed.update(qe._WARC_MEDIA_STAGING.values())

    import recon_spark.queries.graph as qg

    allowed.update(qg._RDF_STAGING.values())

    import recon_spark.queries.reasoning as qr

    for dirs in qr._ENTAIL_STAGING.values():
        allowed.update(dirs)
    return allowed


def test_registry_sweep_pandas_roundtrip_and_hygiene(spark):
    # other test files may legitimately cache fixtures in the shared
    # session; the sweep owns QUERY-path hygiene, so start clean —
    # anything cached after this point came from a registry query
    spark.catalog.clearCache()
    before = _tmp_trees()
    failures = []
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, SF_SMOKE)
            rows = [r.asDict() for r in df.collect()]
            # the driver's conversion: python scalars -> pandas. This is
            # what raised OutOfBoundsDatetime for facts_history in r3.
            pdf = pd.DataFrame(rows, columns=df.columns)
            # force datetime inference on object columns the constructor
            # left alone (pandas only coerces homogeneous columns)
            for c in pdf.columns:
                if pdf[c].dtype == object and len(pdf):
                    v = pdf[c].dropna()
                    if len(v) and hasattr(v.iloc[0], "toordinal"):
                        pd.to_datetime(v)
        except Exception as e:  # collect the full damage report, not first
            failures.append(f"{name}: {type(e).__name__}: {e}")
    assert not failures, "driver-conversion failures:\n" + "\n".join(failures)

    # (c1) zero cached blocks: every persist() in every operator must be
    # paired with an unpersist on the query path (r2 ADVICE leak class),
    # and scratch() pins must be GC-releasable (their whole design).
    # No clearCache() first — that would mask exactly the leaks this hunts.
    # scratch()'s localCheckpoint blocks release via the ContextCleaner
    # AFTER the wrapping DataFrames are garbage-collected on both sides,
    # an async path — force python+JVM GC and poll before declaring a leak
    # (a CacheManager persist() leak would survive any amount of GC).
    import gc
    import time as _time

    # the loop variable still references the last query's frame, whose
    # plan may read a pin (bpe_doc_tokens reads bpe_train's last round)
    del df
    deadline = _time.time() + 60
    cached = _cached_rdds(spark)
    while cached and _time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        _time.sleep(2)
        cached = _cached_rdds(spark)
    assert cached == [], f"leaked cached RDD blocks after sweep: {cached}"

    # (c2) zero leaked /tmp trees: new top-level recon_* dirs must all be
    # session-cached streaming staging roots (removed via atexit)
    leaked = (_tmp_trees() - before) - _allowed_staging_roots()
    # the session's own warehouse dir is per-PID and expected
    leaked = {p for p in leaked if not p.startswith("/tmp/recon_spark_warehouse_")}
    # pyfiles zips are per-PID session artifacts (deploy.build_pyfiles_zip):
    # a CONCURRENT process (e.g. a spark-submit verify run) may drop its own
    # zip mid-sweep — but a zip bearing OUR pid would be a genuine query-path
    # leak, so only foreign-pid zips are excluded
    _own_zip = f"/tmp/recon_spark_pyfiles_{os.getpid()}"
    leaked = {p for p in leaked
              if not (p.startswith("/tmp/recon_spark_pyfiles_")
                      and not p.startswith(_own_zip))}
    assert leaked == set(), f"leaked /tmp trees after sweep: {sorted(leaked)}"

    # (c3) staging reuse: re-running every streaming query must create no
    # NEW top-level /tmp trees (drop-boxes are cached per (sf_dir, table);
    # only checkpoint subdirs inside an allowed root may be added)
    mid = _tmp_trees()
    for name in QUERIES:
        if name.startswith("stream_"):
            QUERIES[name](spark, SF_SMOKE).count()
    regrown = (_tmp_trees() - mid) - _allowed_staging_roots()
    regrown = {p for p in regrown if not p.startswith("/tmp/recon_spark_warehouse_")}
    regrown = {p for p in regrown
               if not (p.startswith("/tmp/recon_spark_pyfiles_")
                       and not p.startswith(_own_zip))}
    assert regrown == set(), f"streaming rerun grew /tmp trees: {sorted(regrown)}"
