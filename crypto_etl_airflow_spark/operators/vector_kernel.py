"""Bounded-candidate vector kernel: the one primitive behind
nearest-centroid assignment (:func:`similarity._nearest_centroid`) and
SemDeDup pair scoring (:func:`semdedup._pair_score_kernel`).

Both callers decide on cosine scores that the engine defines by ONE
canonical fold: per (a, b) pair, the left-to-right IEEE fp64 sum
``((0.0 + a₁b₁) + a₂b₂) + …`` over ``dim`` components, divided by the
stored norm(s) — the value the Column form, the join form and the
DuckDB oracle all compute. A GEMM computes the same score matrix far
faster but sums in another order (blocked, SIMD, FMA), so it is trusted
only to SELECT candidates: a pair leaves the candidate set only when the
error bound below proves the exact fold could not change the caller's
decision, and the exact fold re-scores every candidate. Decisions and
emitted scores are therefore bit-identical to folding every pair.

The primitive owns, once each:

- the **gather**: an Arrow ``list<double>`` column becomes an
  ``(n, dim)`` matrix in one vectorized gather off the values and
  offsets buffers (no Python per row). NULL rows and rows shorter than
  ``dim`` are masked out (zeroed, ``valid`` False); NULL elements become
  NaN; longer rows score on their first ``dim`` components;
- the **BLAS clamp**: one OpenBLAS thread per Python worker —
  parallelism comes from Spark tasks, and a thread-per-core GEMM in
  every concurrent worker would oversubscribe the host;
- the **representability gate** (:data:`F32_MAG`) and the **error
  bound**, derived below as functions of ``dim``;
- the **exact fold** over candidate ``(row, col)`` index pairs, tiled
  so the gathered operands stay bounded. Folding "every pair" is the
  case where every pair is a candidate.

Callers keep only their selection rule: argmax-with-tolerance for
assignment, keep-unless-provably-below-threshold for pairs.

Error bound
-----------
Notation: n = dim, u = 2⁻⁵³ and u₃₂ = 2⁻²⁴ (unit roundoffs), a score
s = (Σ aᵢbᵢ)/d with d the product of the stored norms it is divided by
(d = ‖c‖ for assignment, ‖a‖·‖b‖ for pairs), ℓ_x = ‖x‖₂ recomputed from
the components, and Σ|aᵢbᵢ| ≤ ℓ_a·ℓ_b (Cauchy–Schwarz), so every bound
needs only the outer product of per-side factors ℓ/d.

- Any summation order of n products — the exact fold, or a GEMM
  (blocked, SIMD, FMA) — is within γ_n·Σ|aᵢbᵢ| of the real dot,
  γ_n = nu/(1 − nu) (Higham, *Accuracy and Stability*, §3.1).
- **fp64 GEMM:** GEMM vs fold ≤ 2γ_n·ℓ_aℓ_b, plus one rounding per
  division: |S − s| ≤ (2n + 4)·u·ℓ_aℓ_b/d to first order.
  ``GAMMA = 2e-12 · max(n, 64)/64`` carries a ≥ 136× margin at every n.
- **fp32 GEMM:** casting aᵢ and bᵢ, the product, n − 1 additions, then
  casting both norms, their product and the division each add ≤ u₃₂
  relative: |S₃₂ − s| ≤ (n + 6)·u₃₂·ℓ_aℓ_b/d (+ the fold's own 2γ_n,
  negligible) while intermediates stay in fp32's normal range.
  ``GAMMA32 = 1e-4 · max(n, 64)/64`` carries a ≥ 23× margin at every n.
- **fp32 underflow:** below fp32's normal range a product errs by
  ≤ 2⁻¹⁵⁰ absolute instead of u₃₂ relative, so the n products add
  ≤ n·2⁻¹⁵⁰ before the division. The gate holds every divisor norm
  ≥ F32_MAG⁻¹ (d ≥ F32_MAG⁻²), so after it the floor is
  ≤ n·2⁻¹⁵⁰·F32_MAG² in both callers. A cast that flushes a component
  errs by ≤ 2⁻¹⁵⁰ as well; times its partner and over d that is
  ≤ 2⁻¹⁵⁰·√n·F32_MAG relative to ℓ_aℓ_b/d, or ≤ 2⁻¹⁵⁰·√n absolute for
  an (ungated) assignment row — far inside GAMMA32 and the floor
  (stored norms are the fold of their own components).
  ``ABS32 = 16 · max(n, 64) · 2⁻¹⁴⁹ · F32_MAG²`` (1.4e-12 at n ≤ 64)
  carries a ≥ 32× margin at every n.
- **fp64 underflow:** the fold and the GEMM each lose ≤ n·2⁻¹⁰⁷⁵ on
  subnormal products, n·2⁻¹⁰⁷⁴ together before the division.
  ``ABS64 = 16 · max(n, 64) · 2⁻¹⁰⁷⁴`` is divided by the caller's own d
  (the fp64 path has no norm gate) and never taken below 1e-300.

Every constant is no smaller than the r16/r17 value at n ≤ 64, so the
candidate sets there are unchanged (one exception: the assignment's
absolute floor rose from 1e-25 to ABS32, which only widens the sets of
rows whose norm is below ~1e-8), and each grows linearly above 64. All
of them only ever WIDEN the candidate set; overflow (non-finite
intermediates) is the callers' to route to the exact fold.

The gate: components |x| ≤ F32_MAG keep products ≤ 1e30 and any sum
below fp32's 3.4e38 for n < 3e8; norms in [F32_MAG⁻¹, F32_MAG] keep the
norm product normal in fp32. NaN/±Inf fail it. Anything outside takes
the fp64 GEMM (assignment) or the all-pairs exact fold (pairs).
"""

from __future__ import annotations

#: fp32 representability gate for components and divisor norms (see
#: the module docstring)
F32_MAG = 1.0e15


def vector_kernel(dim: int):
    """Factory for the worker-side primitive: returns ``build``, a
    SELF-CONTAINED closure (cloudpickle ships nested code by value, so
    Python workers never import this package). Call ``build()`` on the
    worker; it returns a namespace with the bound constants and the
    helpers ``gather``, ``fits32``, ``norm_ok``, ``eps_factor`` and
    ``fold``."""
    kdim = int(dim)
    mag = F32_MAG
    n = max(kdim, 64)
    bounds = dict(
        GAMMA=2.0e-12 * n / 64,
        GAMMA32=1.0e-4 * n / 64,
        ABS32=16.0 * n * 2.0**-149 * mag * mag,
        ABS64=16.0 * n * 2.0**-1074,
    )
    # exact-fold tile: ~16 MB of gathered operands per chunk
    chunk = max(256, (16 << 20) // (16 * kdim))

    def build():
        from types import SimpleNamespace

        import numpy as np
        import pyarrow as pa

        if not getattr(np, "_graft_blas_clamped", False):
            # runtime clamp via the loaded library handle (env vars are
            # too late on a REUSED worker where numpy is already
            # loaded); once per worker process, best-effort — a failure
            # only costs scheduling noise
            try:
                import ctypes
                import glob
                import os

                for p in glob.glob(
                    os.path.join(
                        os.path.dirname(np.__file__), "..", "numpy.libs",
                        "libopenblas*",
                    )
                ):
                    lib = ctypes.CDLL(p)
                    for fn in (
                        "openblas_set_num_threads64_",
                        "openblas_set_num_threads",
                    ):
                        f = getattr(lib, fn, None)
                        if f is not None:
                            f(1)
                            break
            except Exception:
                pass
            np._graft_blas_clamped = True

        def gather(col):
            """``list<double>`` Arrow column → ``(V, valid)``."""
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            m = len(col)
            offs = col.offsets.to_numpy().astype(np.int64)
            valid = np.diff(offs) >= kdim
            if col.null_count:
                valid &= ~col.is_null().to_numpy(zero_copy_only=False)
            # element nulls surface as NaN (float64 conversion);
            # zero-copy when the values carry no nulls
            flat = col.values.to_numpy(zero_copy_only=False)
            if len(flat) == 0:
                return np.zeros((m, kdim), dtype=np.float64), valid
            safe = np.where(valid, offs[:-1], 0)
            V = flat[
                np.minimum(
                    safe[:, None] + np.arange(kdim)[None, :], len(flat) - 1
                )
            ]
            V[~valid] = 0.0
            return V, valid

        def fits32(X):
            # NaN compares False, so NaN/Inf components fail the gate
            return bool(np.all(np.abs(X) <= mag))

        def norm_ok(nrm):
            with np.errstate(invalid="ignore"):
                return np.isfinite(nrm) & (nrm >= 1.0 / mag) & (nrm <= mag)

        def eps_factor(X, d, gamma):
            """Per-row factor of the bound for the rows of ``X`` with
            divisors ``d``: eps[i, j] = fa[i]·fb[j] + floor. The 1.001
            inflation covers the rounding of an fp32 downcast."""
            return gamma ** 0.5 * 1.001 * np.sqrt((X * X).sum(axis=1)) / d

        def fold(A, B, ia, ib):
            """Exact fp64 left-to-right fold of rows ``A[ia]`` against
            ``B[ib]`` — per pair the same IEEE operations in the same
            dimension order as folding the full score matrix."""
            out = np.empty(len(ia), dtype=np.float64)
            for lo in range(0, len(ia), chunk):
                Ac = A[ia[lo : lo + chunk]]
                Bc = B[ib[lo : lo + chunk]]
                acc = np.zeros(len(Ac), dtype=np.float64)
                prod = np.empty(len(Ac), dtype=np.float64)
                for i in range(kdim):
                    np.multiply(Ac[:, i], Bc[:, i], out=prod)
                    np.add(acc, prod, out=acc)
                out[lo : lo + chunk] = acc
            return out

        return SimpleNamespace(
            gather=gather, fits32=fits32, norm_ok=norm_ok,
            eps_factor=eps_factor, fold=fold, **bounds,
        )

    return build
