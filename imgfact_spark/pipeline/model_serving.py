"""Executor-side model-checkpoint serving for all four model kernels
(M2/M3 grounding scorers, M1 VCC entity classifier, M4 contrastive ranker).

The reference scores every (image, text) grounding pair with a P-tuned CLIP
checkpoint loaded once per DataLoader worker (ptuningfilter.py:33-47,
inference.py:160-176: ``model.load_state_dict(...)`` then batched forward).
On Spark the same contract is an ITERATOR pandas UDF: the checkpoint file is
deserialized ONCE per partition (per task iterator), then every Arrow batch
of that partition is scored through the loaded weights — no per-row Python,
no per-batch reload, no driver-side broadcast of the weights needed (the
file rides the executor's local disk / DFS cache, exactly how real
multi-GB CLIP weights have to travel; a closed-over numpy array would be
pickled into every task instead).

Every model kernel is the same small sinusoidal MLP — key hash → unit
scalar → sinusoidal features → ``layers`` tanh matmuls (BLAS) — defined
once here: :func:`_mlp_weights` draws the weights, :func:`_tower` runs the
forward pass, :func:`_save_npz` writes the checkpoint atomically.  Its
compute profile resembles a small vision-text scoring head (batch @
width×width matmul stack) rather than the µs hash stand-in, which is the
representative one for a CLIP-class kernel.

Two checkpoint flavors share the loading contract:

* ``mode="model"`` — stores the encoder weights (planes, readout, freqs);
  scores follow the encoder's distribution, not the calibrated-uniform
  one.  ``tests/oracle.py`` holds a closed-over reference that draws the
  same weights from (width, layers, seed) and pins the served scores to it.
* ``mode="md5"`` — stores only the affine calibration head (pair_lo/span,
  ent_lo/span) and computes the md5-mode deterministic score
  (functions/scoring.det_score_col semantics) in the Python worker, making
  the FULL serving path value-hash checkable against DuckDB
  (entry query ``m2_checkpoint_scoring``).
"""

import hashlib
import os
import tempfile
import uuid
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

_MOD = 1_000_000

SCORE_STRUCT = T.StructType(
    [
        T.StructField("score", T.DoubleType()),
        T.StructField("score_s", T.DoubleType()),
        T.StructField("score_o", T.DoubleType()),
    ]
)


# ---------------------------------------------------------------------------
# The MLP every kernel serves: weights, forward pass, checkpoint file
# ---------------------------------------------------------------------------


def _mlp_weights(
    seed: int, width: int, layers: int, towers=("planes",), readout: bool = True
) -> dict:
    """Draw one checkpoint's weights from ``seed``: ``layers`` width×width
    planes per tower, then the readout vector, then the sinusoidal
    frequencies.  The draw order fixes the values in the cached ``_v1``
    default files, so it must not change."""
    rng = np.random.RandomState(seed)
    arrays = {
        tower: np.stack(
            [rng.standard_normal((width, width)) / np.sqrt(width) for _ in range(layers)]
        )
        for tower in towers
    }
    if readout:
        arrays["readout"] = rng.standard_normal(width) / np.sqrt(width)
    arrays["freqs"] = rng.uniform(0.5, 2.0, width) * 2 * np.pi
    return arrays


def _tower(keys: pd.Series, freqs: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """The forward pass: hash → unit scalar → sinusoidal features, then
    ``tanh(x @ w)`` per plane.  One definition, so the bit-sensitive lift
    cannot drift between kernels."""
    h = pd.util.hash_pandas_object(keys, index=False).to_numpy()
    base = (h % np.uint64(2**31)).astype("float64") / float(2**31)
    x = np.sin(np.outer(base, freqs))
    for w in planes:
        x = np.tanh(x @ w)
    return x


def _sigmoid(z: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-3.0 * z))


def _encode(keys: pd.Series, weights: dict) -> np.ndarray:
    """Single-tower score in (0, 1): forward pass, then logistic readout."""
    return _sigmoid(_tower(keys, weights["freqs"], weights["planes"]) @ weights["readout"])


def _save_npz(path: str, **arrays) -> str:
    # np.savez appends ".npz" to names lacking the suffix — keep it on the
    # temp name so the atomic replace sees the file savez actually wrote
    tmp = f"{path}.{uuid.uuid4().hex}.tmp.npz"
    np.savez(tmp, **arrays)
    os.replace(tmp, path)
    return path


def _load_npz(path: str, kernel: "str | None" = None) -> dict:
    """Every array of a checkpoint; ``kernel`` checks its kernel tag, so
    loading another kernel's file fails instead of scoring wrongly."""
    with np.load(path) as z:
        if kernel is not None and str(z["kernel"]) != kernel:
            raise ValueError(f"not a {kernel} checkpoint: {path}")
        return {name: z[name] for name in z.files}


# ---------------------------------------------------------------------------
# M2/M3 grounding scorers
# ---------------------------------------------------------------------------


def save_scorer_checkpoint(
    path: str,
    mode: str = "md5",
    width: int = 256,
    layers: int = 4,
    seed: int = 42,
    pair_lo: float = 0.20,
    pair_span: float = 0.80,
    ent_lo: float = 0.75,
    ent_span: float = 0.25,
) -> str:
    """Serialize a scorer checkpoint to ``path`` (.npz), atomically."""
    weights = _mlp_weights(seed, width, layers) if mode == "model" else {}
    return _save_npz(
        path,
        mode=np.array(mode),
        calib=np.array([pair_lo, pair_span, ent_lo, ent_span], dtype="float64"),
        **weights,
    )


def default_checkpoint_path(mode: str = "md5") -> str:
    """Stable write-once location for the deterministic default checkpoint —
    idempotent across driver/oracle invocations (no tempdir leak; the same
    params always produce the same file, so racing writers are safe via the
    atomic replace)."""
    path = os.path.join(tempfile.gettempdir(), f"imgfact_m2_ckpt_{mode}_v1.npz")
    if not os.path.exists(path):
        save_scorer_checkpoint(path, mode=mode)
    return path


def _md5_u(keys: pd.Series) -> pd.Series:
    """md5-mode deterministic unit score — the Python twin of
    functions/scoring.det_score_col(hash_mode='md5'): 60-bit hex-prefix
    integer mod 1e6, over the utf-8 key bytes (non-negative, % == pmod)."""
    return keys.map(
        lambda s: int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) % _MOD
    ) / float(_MOD)


class _LoadedScorer:
    """The deserialized checkpoint: scores one (s,p,o,media_ref) batch."""

    def __init__(self, path: str):
        self.weights = _load_npz(path)
        self.mode = str(self.weights["mode"])
        self.pair_lo, self.pair_span, self.ent_lo, self.ent_span = self.weights["calib"]

    def score_batch(
        self, s: pd.Series, p: pd.Series, o: pd.Series, media_ref: pd.Series
    ) -> pd.DataFrame:
        pair_key = "pair|" + s + "|" + p + "|" + o + "|" + media_ref
        s_key = "ent|" + s + "|" + media_ref
        o_key = "ent|" + o + "|" + media_ref
        if self.mode == "model":
            # the 6-decimal round absorbs BLAS batch-shape ulps, so scores
            # are stable across partitionings and runs
            w = self.weights
            return pd.DataFrame(
                {
                    "score": np.round(_encode(pair_key, w), 6),
                    "score_s": np.round(0.75 + 0.25 * _encode(s_key, w), 6),
                    "score_o": np.round(0.75 + 0.25 * _encode(o_key, w), 6),
                }
            )
        return pd.DataFrame(
            {
                "score": self.pair_lo + self.pair_span * _md5_u(pair_key),
                "score_s": self.ent_lo + self.ent_span * _md5_u(s_key),
                "score_o": self.ent_lo + self.ent_span * _md5_u(o_key),
            }
        )


def checkpoint_scores_udf(checkpoint_path: str, load_marker_dir: "str | None" = None):
    """SCALAR_ITER pandas UDF over (s, p, o, media_ref) → score struct.

    The checkpoint loads ONCE per partition (once per task's batch
    iterator), then serves every Arrow batch — the inference.py:160-176
    worker contract.  ``load_marker_dir`` (tests only) drops one marker
    file per load so the once-per-partition invariant is countable.
    Built on the shared :func:`_iter_udf` (one serve-loop definition for
    all four kernels)."""
    return _iter_udf(_LoadedScorer, SCORE_STRUCT, checkpoint_path,
                     load_marker_dir, 4)


def score_groundings_checkpoint(
    gc: DataFrame,
    checkpoint_path: str,
    load_marker_dir: "str | None" = None,
) -> DataFrame:
    """Drop-in for grounding.score_groundings with the weights served from
    ``checkpoint_path``.  Only the four key columns cross the Arrow
    boundary; every other gc column stays JVM-side."""
    udf = checkpoint_scores_udf(checkpoint_path, load_marker_dir)
    scored = gc.withColumn("_ms", udf("s", "p", "o", "media_ref"))
    return scored.select(*gc.columns, "_ms.score", "_ms.score_s", "_ms.score_o")


# ---------------------------------------------------------------------------
# M1 (VCC visual-entity classifier) and M4 (contrastive top-5 ranker)
# checkpoint serving — the same .npz-per-partition iterator-UDF contract as
# the M2/M3 grounding scorers above, extended to the reference's other two
# model kernels:
#
# * M1 — entity_filtering/inference.py:83-119: the VCC model (BERT+VGG16)
#   scores each entity's (abstract, image-evidence) bundle and gates it
#   visual/non-visual.  Serving key: "vcc|<entity>" — md5 mode is
#   BIT-IDENTICAL to the deterministic stand-in
#   functions/scoring.det_score_col(lit("vcc"), entity, hash_mode="md5"),
#   so the checkpoint path is a pure refactor of where the weights live
#   and the gate decisions match the stand-in pipeline exactly.
# * M4 — relation_based_image_filtering/CPgen.py:332-380: the contrastive
#   ranker scores each (triple-prompt, image) candidate as
#   dot(CLS_text, CLS_image) and keeps groups whose positive candidate
#   ranks in the top-5 (CPgen.py:367-378).  Serving keys: the text CLS is
#   derived from "cp_txt|s|p|o", the image CLS from "cp_img|media_ref",
#   and mode="model" scores sigmoid(dot(enc_text, enc_img)) — the
#   dot(CLS,CLS) shape with real ndarray weights.  md5 mode folds the
#   joint key to the cross-engine unit score so DuckDB replays every
#   candidate score bit-for-bit.
# ---------------------------------------------------------------------------

VCC_STRUCT = T.StructType([T.StructField("vcc_score", T.DoubleType())])
CP_STRUCT = T.StructType([T.StructField("cp_score", T.DoubleType())])


def save_vcc_checkpoint(
    path: str,
    mode: str = "md5",
    width: int = 256,
    layers: int = 4,
    seed: int = 43,
) -> str:
    """Serialize a VCC entity-classifier checkpoint (.npz), atomically.

    md5 mode stores no weights beyond the mode tag — the served score is
    the deterministic md5 unit score of "vcc|<entity>", bit-identical to
    the stand-in gate, which is what makes the FULL serving path (file →
    per-partition load → batch scoring → threshold) value-hash checkable.
    ``mode="model"`` stores a real sinusoidal-MLP weight set (the M2
    pattern) whose scores the numpy twin :func:`vcc_scores_numpy` replays
    bit-for-bit driver-side.
    """
    weights = _mlp_weights(seed, width, layers) if mode == "model" else {}
    return _save_npz(path, kernel=np.array("vcc"), mode=np.array(mode), **weights)


def save_cp_checkpoint(
    path: str,
    mode: str = "md5",
    width: int = 256,
    layers: int = 2,
    seed: int = 44,
) -> str:
    """Serialize a contrastive-ranker checkpoint (.npz), atomically.

    ``mode="model"`` stores TWO encoder towers (text and image — the
    CPgen.py dual-encoder shape); the served score is
    sigmoid(dot(enc_txt(key), enc_img(key)) / sqrt(width)).  md5 mode
    serves the cross-engine unit score of the joint candidate key.
    """
    weights = (
        _mlp_weights(seed, width, layers, towers=("planes_txt", "planes_img"), readout=False)
        if mode == "model"
        else {}
    )
    return _save_npz(path, kernel=np.array("cp"), mode=np.array(mode), **weights)


def default_vcc_checkpoint_path(mode: str = "md5") -> str:
    path = os.path.join(tempfile.gettempdir(), f"imgfact_m1_ckpt_{mode}_v1.npz")
    if not os.path.exists(path):
        save_vcc_checkpoint(path, mode=mode)
    return path


def default_cp_checkpoint_path(mode: str = "md5") -> str:
    path = os.path.join(tempfile.gettempdir(), f"imgfact_m4_ckpt_{mode}_v1.npz")
    if not os.path.exists(path):
        save_cp_checkpoint(path, mode=mode)
    return path


class _LoadedVcc:
    """Deserialized M1 checkpoint: scores one entity batch."""

    def __init__(self, path: str):
        self.weights = _load_npz(path, "vcc")
        self.mode = str(self.weights["mode"])

    def score_batch(self, entity: pd.Series) -> pd.DataFrame:
        key = "vcc|" + entity
        if self.mode == "model":
            score = _encode(key, self.weights)
        else:
            score = _md5_u(key)
        return pd.DataFrame({"vcc_score": np.asarray(score, dtype="float64")})


class _LoadedCp:
    """Deserialized M4 checkpoint: scores one candidate batch."""

    def __init__(self, path: str):
        self.weights = _load_npz(path, "cp")
        self.mode = str(self.weights["mode"])

    def score_batch(
        self, s: pd.Series, p: pd.Series, o: pd.Series, media_ref: pd.Series
    ) -> pd.DataFrame:
        if self.mode == "model":
            w = self.weights
            cls_txt = _tower("cp_txt|" + s + "|" + p + "|" + o, w["freqs"], w["planes_txt"])
            cls_img = _tower("cp_img|" + media_ref, w["freqs"], w["planes_img"])
            dots = np.einsum("ij,ij->i", cls_txt, cls_img) / np.sqrt(
                cls_txt.shape[1]
            )
            score = _sigmoid(dots)
        else:
            score = _md5_u("cp|" + s + "|" + p + "|" + o + "|" + media_ref)
        return pd.DataFrame({"cp_score": np.asarray(score, dtype="float64")})


def vcc_scores_numpy(entities: "list[str]", checkpoint_path: str) -> np.ndarray:
    """Driver-side numpy twin of the M1 serving UDF (parity tests)."""
    return (
        _LoadedVcc(checkpoint_path)
        .score_batch(pd.Series(entities, dtype="object"))["vcc_score"]
        .to_numpy()
    )


def cp_scores_numpy(
    s: "list[str]", p: "list[str]", o: "list[str]", media_ref: "list[str]",
    checkpoint_path: str,
) -> np.ndarray:
    """Driver-side numpy twin of the M4 serving UDF (parity tests)."""
    ser = lambda v: pd.Series(v, dtype="object")  # noqa: E731
    return (
        _LoadedCp(checkpoint_path)
        .score_batch(ser(s), ser(p), ser(o), ser(media_ref))["cp_score"]
        .to_numpy()
    )


def _iter_udf(loader, struct, checkpoint_path: str, load_marker_dir, n_cols: int):
    """Shared SCALAR_ITER construction: load once per partition iterator,
    then serve every Arrow batch (the inference.py:160-176 worker shape).

    The UDF is marked nondeterministic so the optimizer evaluates it once
    per input row: a deterministic one is inlined into the threshold
    filters above it and pushed down, and ``ExtractPythonUDFs`` then plans
    it 2–3 times (once inside each pushed filter, once for the survivors).
    Its scores stay a pure function of the checkpoint and the key."""

    def serve(batches):
        kernel = loader(checkpoint_path)  # per-partition init
        if load_marker_dir:
            with open(
                os.path.join(load_marker_dir, f"load-{uuid.uuid4().hex}"), "w"
            ) as f:
                f.write(checkpoint_path)
        for cols in batches:
            if n_cols == 1:
                yield kernel.score_batch(cols)
            else:
                yield kernel.score_batch(*cols)

    # pandas_udf infers SCALAR_ITER from the type hints; a 1-column
    # iterator UDF yields bare Series, a multi-column one yields tuples
    serve.__annotations__ = {
        "batches": Iterator[pd.Series]
        if n_cols == 1
        else Iterator[Tuple[tuple([pd.Series] * n_cols)]],
        "return": Iterator[pd.DataFrame],
    }
    return pandas_udf(serve, returnType=struct).asNondeterministic()


def score_entities_checkpoint(
    entities: DataFrame,
    checkpoint_path: str,
    entity_col: str = "entity",
    load_marker_dir: "str | None" = None,
) -> DataFrame:
    """M1 serving: append ``vcc_score`` from an executor-loaded checkpoint.

    Drop-in for the stand-in gate's ``det_score_col(lit('vcc'), entity)``
    column (entity_filter.visual_entities) — md5-mode scores are
    bit-identical to the stand-in's md5 mode, pinned by
    tests/test_model_serving.py."""
    udf = _iter_udf(_LoadedVcc, VCC_STRUCT, checkpoint_path, load_marker_dir, 1)
    scored = entities.withColumn("_m1", udf(entity_col))
    return scored.select(*entities.columns, "_m1.vcc_score")


def score_candidates_checkpoint(
    cands: DataFrame,
    checkpoint_path: str,
    load_marker_dir: "str | None" = None,
) -> DataFrame:
    """M4 serving: append ``cp_score`` over (s, p, o, media_ref) candidates
    from an executor-loaded dual-encoder checkpoint.  Only the four key
    columns cross the Arrow boundary."""
    udf = _iter_udf(_LoadedCp, CP_STRUCT, checkpoint_path, load_marker_dir, 4)
    scored = cands.withColumn("_m4", udf("s", "p", "o", "media_ref"))
    return scored.select(*cands.columns, "_m4.cp_score")
