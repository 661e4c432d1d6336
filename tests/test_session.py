"""Session helpers keyed on the Spark context's identity."""

from types import SimpleNamespace

from duckdb_ml_spark import session


def test_ensure_shipped_once_per_application_id(monkeypatch):
    monkeypatch.setattr(session, "_SHIPPED_CONTEXTS", set())
    added = []
    sc = SimpleNamespace(applicationId="local-1", addPyFile=added.append)
    spark = SimpleNamespace(sparkContext=sc)
    session.ensure_shipped(spark)
    session.ensure_shipped(spark)
    assert len(added) == 1
    # same Python object, so the same id(), but a new context behind it
    sc.applicationId = "local-2"
    session.ensure_shipped(spark)
    assert len(added) == 2
    assert added[1].endswith("duckdb_ml_spark.zip")
