"""Distributed training — the 100 TB path (SURVEY §7 step 7).

Driver-side `ml_train` collects the training set; that caps out around driver
memory. Two genuinely distributed strategies, both expressed over mapInPandas so
data never leaves executors:

- mode="avg"  (parallel SGD / local training + weight averaging): each partition
  trains a full local model from the same broadcast init, the driver
  example-weight-averages the resulting weights. ONE pass over the data, no
  per-epoch synchronization — the right default when partitions are IID samples.

- mode="grad" (synchronous full-batch gradient descent): per optimizer step, every
  partition computes its gradient sum against broadcast weights; the driver reduces
  (a tiny collect of one flattened-gradient row per partition — equivalent to
  treeAggregate with a far smaller Python overhead) and takes an Adam step.
  Deterministic and exactly the single-node full-batch trajectory (for batch_norm
  nets: up to float-summation order — see the sync-BN block comment), at the cost
  of one cluster round-trip per step (2·n_bn+1 for BN nets) — use few epochs /
  large effective batch. Dropout is rejected (no stable global row index to key a
  reproducible global mask).
"""

from __future__ import annotations

import functools
import pickle
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_ml_spark import artifacts, nn, registry
from duckdb_ml_spark.functions import _arrow_list_to_matrix, _as_matrix

_RESULT_SCHEMA = "payload binary, n long"


def _collect_xy(pdfs: Iterator[pd.DataFrame], in_dim: int, out_dim: int):
    xs, ys = [], []
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        xs.append(_as_matrix(pdf["__x"], in_dim, "features"))
        ys.append(_as_matrix(pdf["__y"], out_dim, "targets"))
    if not xs:
        return None, None
    return np.concatenate(xs), np.concatenate(ys)


def _collect_xy_arrow(batches, in_dim: int, out_dim: int):
    """Arrow RecordBatch stream → [n, dim] float32 matrices via the FLAT list
    child buffers (same validation as _as_matrix, no per-row Python objects —
    the r15 guide §4.1 seam fix; values are bit-identical to the pandas path
    since the source columns are already array<float>)."""
    xs, ys = [], []
    xi = yi = None
    for b in batches:
        if b.num_rows == 0:
            continue
        if xi is None:
            xi = b.schema.names.index("__x")
            yi = b.schema.names.index("__y")
        xs.append(_arrow_list_to_matrix(b.column(xi), in_dim, "features"))
        ys.append(_arrow_list_to_matrix(b.column(yi), out_dim, "targets"))
    if not xs:
        return None, None
    return np.concatenate(xs), np.concatenate(ys)


def ml_train_distributed(
    spark: SparkSession,
    name: str,
    df: DataFrame,
    features_col: str = "features",
    targets_col: str = "targets",
    config: str | nn.TrainingConfig | None = None,
    mode: str = "avg",
    save: bool = True,
) -> DataFrame:
    """Train the named registry model on `df` without collecting it to the driver."""
    from duckdb_ml_spark.session import ensure_shipped

    ensure_shipped(spark)
    cfg = config if isinstance(config, nn.TrainingConfig) else nn.TrainingConfig.from_json(config)
    model = registry.get_model(name)
    spec, spec_json = model.spec, model.spec_json
    in_dim, out_dim = spec.input_dim, spec.output_dim
    init = [{k: v.copy() for k, v in p.items()} for p in model.params]
    xy = df.select(F.col(features_col).alias("__x"), F.col(targets_col).alias("__y"))

    if mode == "avg":
        init_b = spark.sparkContext.broadcast(pickle.dumps(init))
        cfg_json = cfg.to_json()

        def _train_partition(batches):
            import pyarrow as pa

            x, y = _collect_xy_arrow(batches, in_dim, out_dim)
            if x is None:
                return
            local = pickle.loads(init_b.value)
            local_cfg = nn.TrainingConfig.from_json(cfg_json)
            nn.train_reg(parse_spec_cached(spec_json), local, x, y, local_cfg, test_frac=0.0)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([pickle.dumps(local)], type=pa.binary()),
                    pa.array([len(x)], type=pa.int64()),
                ],
                names=["payload", "n"],
            )

        rows = xy.mapInArrow(_train_partition, schema=_RESULT_SCHEMA).collect()
        if not rows:
            raise ValueError("ml_train_distributed: empty input")
        total = sum(r.n for r in rows)
        acc = None
        for r in rows:
            local = pickle.loads(r.payload)
            w = r.n / total
            if acc is None:
                acc = [{k: w * v for k, v in p.items()} for p in local]
            else:
                for pa, pl in zip(acc, local):
                    for k in pa:
                        pa[k] += w * pl[k]
        params = [{k: v.astype(np.float32) for k, v in p.items()} for p in acc]

    elif mode == "grad":
        # Per-partition dropout masks can't reproduce a single global draw
        # (rows carry no stable global index to key a counter-based RNG), so
        # dropout stays unsupported here; batch_norm IS supported via the
        # sync-BN protocol below (global batch statistics + global backward
        # coupling sums — the distributed-data-parallel SyncBatchNorm
        # construction, expressed as extra reduce rounds instead of an
        # in-flight all-reduce, which mapInPandas cannot do mid-task).
        unsupported = [
            f"layer {i}: dropout"
            for i, layer in enumerate(spec.layers)
            if layer.dropout > 0.0
        ]
        if unsupported:
            raise ValueError(
                "ml_train_distributed(mode='grad') does not support dropout "
                f"({'; '.join(unsupported)}); use mode='avg' or driver-side ml_train"
            )
        xy = xy.persist()
        try:
            params = _grad_descent_sync(spark, xy, spec_json, init, cfg, in_dim, out_dim)
        finally:
            xy.unpersist()
    else:
        raise ValueError(f"unknown mode '{mode}' (use 'avg' or 'grad')")

    model.params = params
    if save:
        model.artifacts.append(artifacts.save_model(name, spec_json, params, cfg))
    registry.put_model(model)
    from duckdb_ml_spark.functions import ml_pred

    return ml_pred(df, name, features_col=features_col)


# --- sync-BN full-batch gradient descent -------------------------------------
#
# Exact full-batch GD over partitioned data, batchnorm included. BatchNorm
# couples examples twice: forward needs the GLOBAL batch mean/var of each BN
# layer's pre-activations, and backward needs two GLOBAL sums per BN layer
# (Σ dzhat and Σ dzhat·zhat — the terms that fall out of differentiating the
# batch statistics). Neither is computable partition-locally, so each optimizer
# step runs a short protocol of reduce rounds:
#
#   for each BN layer j (shallow→deep):   round emits Σz, Σz², n at layer j
#                                         → driver fixes (mu_j, var_j)
#   for each BN layer j (deep→shallow):   round emits (Σ dzhat_j, Σ dzhat_j·zhat_j)
#                                         using couplings already fixed for
#                                         deeper layers → driver fixes j's
#   final round:                          per-layer parameter gradient sums
#
# 2·n_bn + 1 rounds per step (1 when the net has no BN — the plain fast path).
# Statistic sums accumulate in float64 (the driver-side combine is then
# order-insensitive to well below float32 resolution); everything entering the
# model stays float32. Running stats get the single-node momentum update with
# the global batch stats — the trained model's inference path is exactly what
# driver-side ml_train would have produced.


def _fwd_sync(sp, params, x, stats, upto=None):
    """Forward with PROVIDED global (mu, var) per BN layer.

    stats: {layer_idx: (mu, var)}. With upto=j, stops right after the linear of
    layer j and returns (z_j, None) — the stat-collection probe. Otherwise
    returns (output, caches) with nn.forward-compatible caches."""
    x = np.asarray(x, dtype=np.float32)
    caches = []
    for i, (layer, p) in enumerate(zip(sp.layers, params)):
        cache: dict = {"x": x}
        z = x @ p["W"] + p["b"]
        if upto is not None and i == upto:
            return z, None
        cache["z"] = z
        if layer.batch_norm:
            mu, var = stats[i]
            inv_std = 1.0 / np.sqrt(var + nn._EPS)
            zhat = (z - mu) * inv_std
            z = p["gamma"] * zhat + p["beta"]
            cache.update(zhat=zhat, inv_std=inv_std)
        cache["pre_act"] = z
        x = nn._activate(layer.activation, z)
        caches.append(cache)
    return x, caches


def _bwd_sync(sp, params, caches, dy, couplings, n_total, upto=None):
    """Backward with PROVIDED global coupling sums per BN layer.

    couplings: {layer_idx: (S1, S2)} — global Σ dzhat, Σ dzhat·zhat. With
    upto=j, returns ((local Σ dzhat_j, local Σ dzhat_j·zhat_j), None) on
    reaching layer j (couplings for deeper BN layers must already be present).
    Otherwise returns (None, per-layer UNNORMALIZED grad sums)."""
    grads: list[dict | None] = [None] * len(params)
    for i in range(len(params) - 1, -1, -1):
        layer, p, cache = sp.layers[i], params[i], caches[i]
        if layer.activation == "relu":
            dy = dy * (cache["pre_act"] > 0)
        elif layer.activation == "tanh":
            a = np.tanh(cache["pre_act"])
            dy = dy * (1.0 - a * a)
        g: dict[str, np.ndarray] = {}
        if layer.batch_norm:
            zhat, inv_std = cache["zhat"], cache["inv_std"]
            g["gamma"] = (dy * zhat).sum(axis=0)
            g["beta"] = dy.sum(axis=0)
            dzhat = dy * p["gamma"]
            if upto is not None and i == upto:
                return (
                    dzhat.sum(axis=0, dtype=np.float64),
                    (dzhat * zhat).sum(axis=0, dtype=np.float64),
                ), None
            s1, s2 = couplings[i]
            dy = (
                inv_std
                / n_total
                * (n_total * dzhat - s1.astype(np.float32) - zhat * s2.astype(np.float32))
            )
        x = cache["x"]
        g["W"] = x.T @ dy
        g["b"] = dy.sum(axis=0)
        grads[i] = g
        if i > 0:
            dy = dy @ p["W"].T
    return None, grads


def _grad_descent_sync(spark, xy, spec_json, init, cfg, in_dim, out_dim, momentum=0.1):
    """Driver loop for mode='grad': sync-BN full-batch GD (see block comment)."""
    sp = parse_spec_cached(spec_json)
    bn_layers = [i for i, layer in enumerate(sp.layers) if layer.batch_norm]
    n_total = xy.count()
    params = init
    opt = nn.Adam(cfg.learning_rate)

    def _round(fn):
        """Broadcast-current-state → mapInPandas(fn) → collected rows."""
        rows = xy.mapInPandas(fn, schema=_RESULT_SCHEMA).collect()
        if not rows:
            raise ValueError("ml_train_distributed: empty input")
        return rows

    for _ in range(cfg.epochs):
        state_b = spark.sparkContext.broadcast(pickle.dumps(params))

        # 1) forward stat rounds, shallow → deep
        stats: dict[int, tuple] = {}
        for j in bn_layers:
            stats_now = dict(stats)

            def _stat_round(pdfs, _j=j, _stats=stats_now):
                x, _y = _collect_xy(pdfs, in_dim, out_dim)
                if x is None:
                    return
                local = pickle.loads(state_b.value)
                z, _ = _fwd_sync(parse_spec_cached(spec_json), local, x, _stats, upto=_j)
                payload = pickle.dumps(
                    (z.sum(axis=0, dtype=np.float64), (z.astype(np.float64) ** 2).sum(axis=0))
                )
                yield pd.DataFrame({"payload": [payload], "n": [len(x)]})

            rows = _round(_stat_round)
            s = s2 = None
            for r in rows:
                ps, ps2 = pickle.loads(r.payload)
                s = ps if s is None else s + ps
                s2 = ps2 if s2 is None else s2 + ps2
            mu = s / n_total
            var = s2 / n_total - mu**2
            stats[j] = (mu.astype(np.float32), np.maximum(var, 0.0).astype(np.float32))

        # 2) backward coupling rounds, deep → shallow
        couplings: dict[int, tuple] = {}
        for j in reversed(bn_layers):
            coup_now = dict(couplings)

            def _coup_round(pdfs, _j=j, _coup=coup_now, _stats=stats):
                x, y = _collect_xy(pdfs, in_dim, out_dim)
                if x is None:
                    return
                local = pickle.loads(state_b.value)
                spx = parse_spec_cached(spec_json)
                pred, caches = _fwd_sync(spx, local, x, _stats)
                dy = (2.0 * (pred - y)).astype(np.float32)  # unnormalized; linear in dy
                part, _ = _bwd_sync(spx, local, caches, dy, _coup, n_total, upto=_j)
                yield pd.DataFrame({"payload": [pickle.dumps(part)], "n": [len(x)]})

            rows = _round(_coup_round)
            s1 = s2 = None
            for r in rows:
                p1, p2 = pickle.loads(r.payload)
                s1 = p1 if s1 is None else s1 + p1
                s2 = p2 if s2 is None else s2 + p2
            couplings[j] = (s1, s2)

        # 3) gradient round
        def _grad_round(pdfs, _coup=couplings, _stats=stats):
            x, y = _collect_xy(pdfs, in_dim, out_dim)
            if x is None:
                return
            local = pickle.loads(state_b.value)
            spx = parse_spec_cached(spec_json)
            pred, caches = _fwd_sync(spx, local, x, _stats)
            dy = (2.0 * (pred - y)).astype(np.float32)
            _, grads = _bwd_sync(spx, local, caches, dy, _coup, n_total)
            yield pd.DataFrame({"payload": [pickle.dumps(grads)], "n": [len(x)]})

        rows = _round(_grad_round)
        state_b.unpersist()
        denom = float(n_total) * out_dim
        gsum = None
        for r in rows:
            g = pickle.loads(r.payload)
            if gsum is None:
                gsum = g
            else:
                for ga, gl in zip(gsum, g):
                    for k in ga:
                        ga[k] += gl[k]
        grads = [{k: (v / denom).astype(np.float32) for k, v in p.items()} for p in gsum]
        opt.step(params, grads)
        # single-node momentum update of running stats with the global batch stats
        for j in bn_layers:
            mu, var = stats[j]
            p = params[j]
            p["running_mean"] = ((1 - momentum) * p["running_mean"] + momentum * mu).astype(
                np.float32
            )
            p["running_var"] = ((1 - momentum) * p["running_var"] + momentum * var).astype(
                np.float32
            )
    return params


@functools.cache
def parse_spec_cached(spec_json: str):
    """Parsed spec per JSON string — runs in executor Python workers, where
    no session exists, so it is a plain parse cache, not a memo entry."""
    from duckdb_ml_spark.spec import parse_spec

    return parse_spec(spec_json)
