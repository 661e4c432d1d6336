"""The four reference ML operators, Spark-first (SURVEY.md §2.1).

Architecture (the key correction over the reference, SURVEY §4.1): `ml_create`,
`ml_train`, `ml_list` are DRIVER-side API calls — they mutate the model registry
and the filesystem, which must never happen inside a Spark UDF (task retries and
speculation would re-run side effects). Only pure `ml_pred` runs on executors, as
an Arrow `arrow_udf` over ArrayType(FloatType()) with closure-shipped weights —
the exact analogue of the reference's vectorized scalar function
(/root/reference/src/lib.rs:204-238).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, FloatType

from duckdb_ml_spark import artifacts, nn, registry
from duckdb_ml_spark.spec import parse_spec


def ml_create(name: str, spec_json: str, weights_path: str | None = None, seed: int = 42) -> str:
    """Parse spec → build MLP → register. Returns 'Ok' (reference lib.rs:64-65).

    `weights_path` fixes the reference's dead weights-load branch (lib.rs:50-60 is
    unreachable; SURVEY §2.1 #1): load an artifact dir or .npz instead of random init.
    """
    spec = parse_spec(spec_json)
    params = artifacts.load_weights(weights_path) if weights_path else nn.init_params(spec, seed)
    registry.put_model(
        registry.RegisteredModel(name=name, spec_json=spec_json, spec=spec, params=params)
    )
    return "Ok"


def ml_drop(name: str) -> bool:
    """Remove a model from the registry (not in the reference; registry hygiene)."""
    return registry.drop_model(name)


def ml_list(spark: SparkSession) -> DataFrame:
    """One row per registered model: (model, json) — reference's table function
    (lib.rs:88-126). Driver-side rows; no iterator protocol needed in Spark."""
    rows = registry.list_models()
    return spark.createDataFrame(rows or [], "model string, json string")


def _as_matrix(series: pd.Series, expect_dim: int | None, what: str) -> np.ndarray:
    """Arrow list column → [n, dim] float32 matrix with uniform-length validation.

    The reference silently mis-slices ragged lists (utils.rs:14-23 divides the flat
    child by row count); we raise a clean error instead (SURVEY §1.3)."""
    lens = series.map(lambda v: -1 if v is None else len(v)).to_numpy()
    if len(lens) == 0:
        return np.empty((0, expect_dim or 0), dtype=np.float32)
    if (lens != lens[0]).any() or lens[0] < 0:
        raise ValueError(f"{what}: all rows must be non-null lists of identical length")
    if expect_dim is not None and lens[0] != expect_dim:
        raise ValueError(f"{what}: expected length {expect_dim}, got {lens[0]}")
    return np.asarray(list(series.to_numpy()), dtype=np.float32)


def _arrow_list_to_matrix(arr, expect_dim: int | None, what: str) -> np.ndarray:
    """Arrow ListArray → [n, dim] float32 matrix via the FLAT child buffer —
    no per-row Python objects (the pandas path materializes one ndarray per
    row; this is the same validation at buffer speed)."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    n = len(arr)
    if n == 0:
        return np.empty((0, expect_dim or 0), dtype=np.float32)
    if arr.null_count:
        raise ValueError(f"{what}: all rows must be non-null lists of identical length")
    offs = np.asarray(arr.offsets)
    lens = np.diff(offs)
    if (lens != lens[0]).any():
        raise ValueError(f"{what}: all rows must be non-null lists of identical length")
    if expect_dim is not None and lens[0] != expect_dim:
        raise ValueError(f"{what}: expected length {expect_dim}, got {lens[0]}")
    flat = arr.flatten().to_numpy(zero_copy_only=False).astype(np.float32, copy=False)
    return flat.reshape(n, int(lens[0]))


def ml_pred(df: DataFrame, name: str, features_col: str = "features", output_col: str = "prediction") -> DataFrame:
    """Append a prediction ArrayType(Float) column using the named registry model.

    arrow_udf (4.1+), not mapInArrow (r15 optimization round, guide §4.1):
    the former mapInArrow kernel shipped EVERY column of the batch through
    the Python worker (ids, targets, whatever the caller carries) because
    an opaque map sees the whole row; as an ArrowEvalPython expression only
    the features column crosses the boundary — other columns stay in the
    JVM and remain visible to column pruning. Feature lists still travel as
    Arrow flat child buffers both ways (reshape in, ListArray.from_arrays
    out — zero per-row Python objects), and the forward pass is unchanged,
    so predictions are bit-identical to the mapInArrow form."""
    from duckdb_ml_spark.session import ensure_shipped

    ensure_shipped(df.sparkSession)
    spec_json, params = registry.snapshot_params(name)
    spec = parse_spec(spec_json)
    in_dim = spec.input_dim

    # explicit ArrowUDFType.SCALAR — `from __future__ import annotations`
    # makes pa.Array hints unresolvable strings for the hint inference
    @F.arrow_udf(ArrayType(FloatType()), F.ArrowUDFType.SCALAR)
    def _pred(features):
        import pyarrow as pa

        x = _arrow_list_to_matrix(features, in_dim, "features")
        out, _ = nn.forward(spec, params, x, training=False)
        n, d = out.shape
        return pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32)),
            pa.array(out.ravel().astype(np.float32, copy=False), type=pa.float32()),
        )

    return df.withColumn(output_col, _pred(F.col(features_col)))


def ml_train(
    spark: SparkSession,
    name: str,
    df: DataFrame,
    features_col: str = "features",
    targets_col: str = "targets",
    config: str | nn.TrainingConfig | None = None,
    save: bool = True,
    log=None,
) -> DataFrame:
    """Collect features/targets → driver Adam+MSE training → registry update →
    predictions on the input rows (the reference's return contract, lib.rs:175-176).

    Canonical semantics deviation (SURVEY §2.1 #3): the reference re-trains per
    2048-row chunk (an artifact of its vectorized-scalar implementation); we train
    on the WHOLE DataFrame once. For data too large to collect, use
    functions.distributed.ml_train_distributed.
    """
    cfg = config if isinstance(config, nn.TrainingConfig) else nn.TrainingConfig.from_json(config)
    model = registry.get_model(name)
    xy = df.select(F.col(features_col).alias("__x"), F.col(targets_col).alias("__y"))
    # Arrow-native collect: list columns land as ListArrays whose flat child
    # buffers reshape straight into the [n, dim] training matrices — no
    # 600k-row pandas object column in between
    tbl = xy.toArrow()
    x = _arrow_list_to_matrix(tbl.column("__x"), model.spec.input_dim, "features")
    y = _arrow_list_to_matrix(tbl.column("__y"), model.spec.output_dim, "targets")
    params = [{k: v.copy() for k, v in p.items()} for p in model.params]
    nn.train_reg(model.spec, params, x, y, cfg, log=log)
    model.params = params
    if save:
        model.artifacts.append(artifacts.save_model(name, model.spec_json, params, cfg))
    registry.put_model(model)
    # The input feeds two passes (driver collect for training, distributed
    # predict for the return value). Measured choice: NO persist — caching
    # 600k feature rows costs more (cache write + memory pressure) than
    # recomputing the upstream scan+scale projection on the predict pass,
    # and repeated ml_train calls don't accumulate executor cache blocks.
    return ml_pred(df, name, features_col=features_col)


def register_all(spark: SparkSession) -> None:
    """Install the SQL-callable surface: `ml_pred(model_name, features)`.

    The UDF closes over an immutable snapshot of every registered model's weights;
    call register_all again after training to refresh the SQL view of the registry.
    ml_create / ml_train stay Python-API-only by design — a SQL-callable UDF runs on
    executors, where registry/filesystem side effects are lost or re-run on retry.
    """
    from duckdb_ml_spark.session import ensure_shipped

    ensure_shipped(spark)
    snapshot = {
        mname: registry.snapshot_params(mname) for mname, _ in registry.list_models()
    }
    specs = {mname: parse_spec(sj) for mname, (sj, _) in snapshot.items()}

    # arrow_udf (4.1+), not pandas_udf: the SQL-callable surface stays a
    # vectorized scalar UDF (the reference's SQL form), but batches cross the
    # boundary as Arrow arrays — the feature lists stay in the flat child
    # buffer instead of materializing one ndarray per row on BOTH the input
    # and output conversion (guide §4.3; same seam fix ml_pred's mapInArrow
    # kernel got in r11). Predictions are bit-identical: same float32
    # matrices into the same nn.forward.
    import pyarrow as pa

    # explicit ArrowUDFType.SCALAR: the module uses `from __future__ import
    # annotations`, so the pa.Array hints are strings the type-hint inference
    # cannot resolve here
    @F.arrow_udf(ArrayType(FloatType()), F.ArrowUDFType.SCALAR)
    def _ml_pred(names, features):
        import pyarrow as pa
        import pyarrow.compute as pc

        if len(names) == 0:
            return pa.array([], type=pa.list_(pa.float32()))
        mname = names[0].as_py()
        if names.null_count or pc.any(pc.not_equal(names, pa.scalar(mname))).as_py():
            # the reference silently scores every row in a chunk with the FIRST
            # row's model (lib.rs:213-219) — silent corruption; error instead
            raise ValueError(
                "ml_pred: model name must be constant per query "
                f"(batch mixes '{mname}' with other names)"
            )
        if mname not in snapshot:
            raise ValueError(f"ml_pred: unknown model '{mname}' (re-run register_all?)")
        spec_json, params = snapshot[mname]
        spec = specs[mname]
        x = _arrow_list_to_matrix(features, spec.input_dim, "features")
        out, _ = nn.forward(spec, params, x, training=False)
        n, d = out.shape
        return pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32)),
            pa.array(out.ravel().astype(np.float32, copy=False), type=pa.float32()),
        )

    spark.udf.register("ml_pred", _ml_pred)

    # SQL-callable table function: `SELECT * FROM ml_list()` — parity with the
    # reference's UDTF (lib.rs:88-126). The UDTF body runs on an executor, so
    # it iterates a frozen snapshot taken HERE on the driver (pure, retry-safe),
    # exactly like the pandas_udf weights snapshot above.
    from pyspark.sql.functions import udtf

    listed = tuple((mname, sj) for mname, (sj, _p) in snapshot.items())

    @udtf(returnType="model: string, json: string")
    class MlListUDTF:
        def eval(self):
            for mname, sj in listed:
                yield mname, sj

    spark.udtf.register("ml_list", MlListUDTF)
