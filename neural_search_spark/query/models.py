"""Deterministic model stand-ins for query-time inference (ModelInference
QueryBuilder analog).

The reference's ``neural`` / ``neural_sparse`` queries carry ``query_text``
plus a ``model_id``; at search time an ML inference call rewrites the text
into a dense vector (``query/NeuralQueryBuilder.java:311-325`` rewrite to
KNNQueryBuilder) or sparse token weights
(``query/NeuralSparseQueryBuilder.java:364-376``). This sandbox has no
model runtime, so a :class:`ModelRegistry` maps ``model_id`` to a
deterministic encoder callable — the same dataflow with a reproducible
stand-in where the network call would be.

Scale note: encoding happens DRIVER-SIDE on the single query string (one
call per search request, exactly like the reference's one inference RPC
per query) — never per corpus row, so nothing here touches the
distributed plan.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter
from typing import Callable

import numpy as np

_TOKEN_RE = re.compile(r"\w+", re.UNICODE)


def _signed_md5_vec(data: bytes, dim: int) -> "np.ndarray":
    """md5(data) → int64 vector of signed byte values in [-128, 127],
    cycling the 16 digest bytes across `dim` coordinates."""
    h = hashlib.md5(data).digest()
    return np.array([h[i % len(h)] - 128 for i in range(dim)], dtype=np.int64)


class ModelNotFoundError(KeyError):
    """Raised when a query references an unregistered model_id."""


class ModelRegistry:
    """model_id → encoder. ``kind`` is 'dense' (text → list[float]) or
    'sparse' (text → {token: weight}), mirroring the two inference modes of
    the reference (TextEmbeddingProcessor vs SparseEncodingProcessor)."""

    def __init__(self) -> None:
        self._models: dict[str, tuple[str, Callable]] = {}

    def register(self, model_id: str, kind: str, fn: Callable) -> "ModelRegistry":
        if kind not in ("dense", "sparse", "multimodal"):
            raise ValueError(
                f"model kind must be 'dense', 'sparse' or 'multimodal', got {kind!r}"
            )
        self._models[model_id] = (kind, fn)
        return self

    def _get(self, model_id: str, kind: str) -> Callable:
        if model_id not in self._models:
            raise ModelNotFoundError(
                f"model_id {model_id!r} is not registered; known: {sorted(self._models)}"
            )
        got_kind, fn = self._models[model_id]
        if got_kind != kind:
            raise ModelNotFoundError(
                f"model_id {model_id!r} is a {got_kind} model, but a {kind} "
                f"encoder was requested"
            )
        return fn

    def encode_dense(self, model_id: str, text: str) -> list[float]:
        return [float(x) for x in self._get(model_id, "dense")(text)]

    def encode_sparse(self, model_id: str, text: str) -> dict[str, float]:
        return {str(t): float(w) for t, w in self._get(model_id, "sparse")(text).items()}


def hash_dense_encoder(dim: int = 8) -> Callable[[str], list[float]]:
    """Deterministic text → unit vector: each token hashes (md5) to a signed
    coordinate pattern; token vectors sum and the result is L2-normalized.
    A reproducible stand-in for a sentence-embedding model: same text →
    same vector, shared tokens → correlated vectors.

    Token vectors are memoized (corpus vocabularies repeat heavily) and
    accumulated as int64 — every accumulator value is an exact integer, so
    the memoized/vectorized path is BIT-IDENTICAL to naive per-token
    summation in any order; only the final normalize touches floats."""
    # plain-dict memo (lru_cache wrappers defeat cloudpickle; the closure
    # dict ships to executors empty and refills per worker)
    memo: dict[str, "np.ndarray"] = {}

    def encode(text: str) -> list[float]:
        acc = _text_acc(text, dim, memo)
        norm = math.sqrt(int(acc @ acc))
        if norm == 0.0:
            return [0.0] * dim
        return [float(x) / norm for x in acc]

    return encode


def _text_acc(text: str, dim: int, memo: dict) -> "np.ndarray":
    """Σ over tokens of the signed-md5 token vector (int64, exact)."""
    acc = np.zeros(dim, dtype=np.int64)
    for tok in _TOKEN_RE.findall(text.lower()):
        v = memo.get(tok)
        if v is None:
            v = _signed_md5_vec(tok.encode("utf-8"), dim)
            if len(memo) < (1 << 16):
                memo[tok] = v
        acc += v
    return acc


def hash_multimodal_encoder(dim: int = 8) -> Callable[[str | None, bytes | None], list[float]]:
    """Deterministic (text, image bytes) → ONE unit vector — the
    TextImageEmbeddingProcessor stand-in (``TextImageEmbeddingProcessor
    .java:43-44,135-140``: a single multimodal model call consumes
    ``{inputText, inputImage}``, either key optional, and returns one
    embedding). Text contributes its token accumulation, the image
    contributes one signed-md5 vector of the raw bytes; the int64 sum is
    L2-normalized (exact-integer accumulation → order-independent and
    memo-safe, like the dense encoder)."""
    memo: dict[str, "np.ndarray"] = {}

    def encode(text: str | None, image: bytes | None) -> list[float]:
        acc = _text_acc(text or "", dim, memo)
        if image:
            acc = acc + _signed_md5_vec(bytes(image), dim)
        norm = math.sqrt(int(acc @ acc))
        if norm == 0.0:
            return [0.0] * dim
        return [float(x) / norm for x in acc]

    return encode


def tf_sparse_encoder() -> Callable[[str], dict[str, float]]:
    """Deterministic text → {token: tf weight}; the registry-shaped analog
    of the sparse-encoding stand-in already used by the sparse query path
    (term frequencies as weights)."""

    def encode(text: str) -> dict[str, float]:
        return {t: float(c) for t, c in Counter(_TOKEN_RE.findall(text.lower())).items()}

    return encode


def default_registry(dim: int = 8) -> ModelRegistry:
    """A registry pre-loaded with dense, sparse, and multimodal stand-ins."""
    return (
        ModelRegistry()
        .register("standin-dense", "dense", hash_dense_encoder(dim))
        .register("standin-sparse", "sparse", tf_sparse_encoder())
        .register("standin-multimodal", "multimodal", hash_multimodal_encoder(dim))
    )
