"""Dependency-leveled scalar expression chains shared between Spark and
DuckDB: the one renderer of every staged scalar program in the engine
(the ITM radio model, the CRS warp series of operators/raster.py, the
geodesic, azimuth and sector math of operators/viewshed.py).

The cross-engine correctness gate hinges on both engines evaluating the
IDENTICAL IEEE expression text (see functions/literals.py). A program
calls `add(name, expr)` once per definition, where `expr` may name
earlier definitions and the source columns; the chain provides:

- transcendental helpers (ln / exp(-x) / cbrt) built ONLY from +,*,/,
  sqrt, floor, integer bit-length and CASE — every one of which is
  correctly rounded or exact in both engines, so identical text means
  identical bits (the engine-libm ban, verify-skill gotcha #6);
- automatic dependency leveling and liveness pruning: given the columns
  the caller reads (`keep`) and the source columns (`inputs`), each
  level carries only what a later level still names, so no program
  lists pass-through columns by hand. `apply_spark` renders one
  `select` per level, `wrap_sql` one CTE per level.

References are found by an identifier scan of the expression text
with its numeric and string literals stripped first (`_refs`), so the
`e0` tail of an exponent-spelled literal (`1.0e0`) never reads as a
reference to a definition named `e0`.

Engine differences are confined to two spellings injected at build
time: integer division (Spark ``div``, DuckDB ``//``) and the power-of-
two shift (Spark ``shiftleft(CAST(1 AS BIGINT), e)``, DuckDB
``(CAST(1 AS BIGINT) << e)``). A program that uses either builds the
chain once per engine; all other generated text is byte-identical, and
a program that uses neither renders both engines from one chain.
"""

from __future__ import annotations

import math
import re

from gdalos_spark.functions.literals import dbl_lit, horner

LN2 = 0.6931471805599453
LOG2E = 1.4426950408889634
# atanh-series log2 mantissa coefficients 1/(2k+1) (7 terms, z <= 1/3
# => err < 2e-8), host-precomputed and exponent-spelled: `1.0/13.0` in
# SQL text is DECIMAL/DECIMAL division in Spark (scale-truncated to
# ~1e-7) but double in DuckDB
_ATANH_C = [1.0, 1.0 / 3, 1.0 / 5, 1.0 / 7, 1.0 / 9, 1.0 / 11, 1.0 / 13]
LOG2_SCALE = "2.885390081777927e0"  # 2/ln(2), the log2 mantissa scale
# Maclaurin exp(-r) on r in [0, ln 2): 13 terms => truncation < 2e-12
_EXPM_C = [(-1.0) ** k / math.factorial(k) for k in range(13)]


# a numeric literal not inside an identifier (`1.0e0`, `.5`, `2e-3`), or
# a single-quoted string literal ('' escapes a quote)
_LITERAL = re.compile(r"(?<![A-Za-z0-9_.])(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?|'(?:[^']|'')*'")
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _refs(expr: str) -> set[str]:
    """The identifiers `expr` names, its literals stripped first."""
    return set(_IDENT.findall(_LITERAL.sub(" ", expr)))


def atanh_series(z2: str) -> str:
    """The atanh series sum z2^k/(2k+1) over `z2` as the operators/text
    log2 spells it (innermost coefficient first). ScalarChain.ln spells
    the same bank through literals.horner; each key keeps its text."""
    s = f"({dbl_lit(_ATANH_C[-1])})"
    for c in reversed(_ATANH_C[:-1]):
        s = f"({s}*{z2} + {dbl_lit(c)})"
    return s


def spark_spellings():
    return (" div ", lambda e: f"shiftleft(CAST(1 AS BIGINT), {e})")


def duckdb_spellings():
    return (" // ", lambda e: f"(CAST(1 AS BIGINT) << ({e}))")


class ScalarChain:
    """Ordered (name, expr) program; exprs may reference earlier names."""

    def __init__(self, intdiv: str, shift) -> None:
        self._intdiv = intdiv
        self._shift = shift
        self.items: list[tuple[str, str]] = []

    def add(self, name: str, expr: str) -> str:
        self.items.append((name, expr))
        return name

    # -- transcendentals ---------------------------------------------------

    def ln(self, y: str, out: str, scale: float = 1e9) -> str:
        """out = ln(y) for y > 0, via micro-unit integerization (exact
        floor(y*scale + 0.5), identical both engines) + the atanh-series
        log2 of operators/text. Inputs are clamped to >= 1 integer unit
        so degenerate rows stay finite (callers branch-gate with CASE);
        quantization error is scale-relative and engine-identical.

        The input is additionally clamped to <= 9.0e18/scale BEFORE the
        integerization: past that, floor(y*scale) exceeds BIGINT and the
        double->BIGINT cast diverges across engines (DuckDB throws Out of
        Range, Spark saturates). The clamp is the same SQL text on both
        sides, so degenerate rows (e.g. an underflowed diffraction-line
        slope pushing a fit distance to ~1e12) saturate at ln(cap)
        identically instead of crashing one engine and corrupting the
        other.

        Every stage is materialized as its own column ON PURPOSE: the
        total expression NODE count is what sizes DuckDB's per-thread
        executor state (one ~16 KB intermediate vector per node per
        thread), and an inlined variant that repeated the mantissa
        sub-expression ~24x per ln pushed a ~400-ln program past 100 GB
        of transient state at 32 threads. Small flat stages keep the
        node count minimal; depth is handled at render time (see
        _plan / the ITM render-mode notes)."""
        cap = 9.0e18 / scale
        yi = self.add(
            f"{out}_yi",
            f"greatest(CAST(1 AS BIGINT), CAST(floor(least({y}, {dbl_lit(cap)}) * {dbl_lit(scale)} + 0.5e0) AS BIGINT))",
        )
        bl = self.add(f"{out}_bl", f"(length(bin({yi})) - 1)")
        m = self.add(
            f"{out}_m",
            f"(CAST({yi} AS DOUBLE) / CAST({self._shift(bl)} AS DOUBLE))",
        )
        z = self.add(f"{out}_z", f"(({m} - 1.0e0) / ({m} + 1.0e0))")
        poly = self.add(f"{out}_p", horner(f"({z} * {z})", _ATANH_C))
        lg = self.add(
            f"{out}_lg",
            f"(CAST({bl} AS DOUBLE) + {LOG2_SCALE} * {z} * {poly})",
        )
        return self.add(
            out, f"({dbl_lit(LN2)} * {lg} - {dbl_lit(math.log(scale))})"
        )

    def exp_neg(self, x: str, out: str) -> str:
        """out = exp(-x): base-2 range reduction (nt = floor(x*log2 e),
        an exact shift) + Maclaurin exp(-r) on the residual r in
        [0, ln 2) — truncation < 2e-12 relative.

        The reduced exponent is clamped to [0, 62] so the BIGINT shift
        stays representable for ANY input: without it, x >= 63*ln2
        (~43.7, reachable from uncapped fit distances in the ITM chain)
        makes DuckDB throw Out of Range on 1<<63 while Spark's shiftleft
        wraps mod 64 and returns garbage. With the clamp both engines
        saturate identically at ~exp(-43) ~ 2e-19, and negative inputs
        (callers' responsibility, but cheap to make safe) floor at
        exp(0) scale rather than a negative shift.

        Stages are materialized, not inlined — see ln's docstring for
        why node count (DuckDB executor state) outranks depth here."""
        t = self.add(
            f"{out}_t",
            f"least(greatest(({x}) * {dbl_lit(LOG2E)}, 0.0e0), 62.0e0)",
        )
        nt = self.add(f"{out}_nt", f"CAST(floor({t}) AS INTEGER)")
        r = self.add(
            f"{out}_r", f"(({t} - CAST({nt} AS DOUBLE)) * {dbl_lit(LN2)})"
        )
        p = self.add(f"{out}_p", horner(r, _EXPM_C))
        return self.add(
            out, f"({p} / CAST({self._shift(nt)} AS DOUBLE))"
        )

    def cbrt(self, u: str, out: str, iters: int = 7) -> str:
        """out = cbrt(u) for u > 0: seed 2^(bl div 3) from the integer
        bit length of u in 1e-6 units (within 2x of the true root), then
        Newton y <- (2y + u/y^2)/3 — quadratic convergence reaches
        full double precision in 7 steps; every operation is IEEE
        +,*,/ so both engines walk the identical value sequence."""
        ui = self.add(
            f"{out}_ui",
            f"greatest(CAST(1 AS BIGINT), CAST(floor(({u}) * 1.0e6 + 0.5e0) AS BIGINT))",
        )
        ud = self.add(f"{out}_ud", f"CAST({ui} AS DOUBLE)")
        bl = self.add(f"{out}_bl", f"(length(bin({ui})) - 1)")
        e3 = self.add(f"{out}_e3", f"(({bl}){self._intdiv}3)")
        y = self.add(f"{out}_y0", f"CAST({self._shift(e3)} AS DOUBLE)")
        for k in range(1, iters + 1):
            y = self.add(
                f"{out}_y{k}", f"((2.0e0 * {y} + {ud} / ({y} * {y})) / 3.0e0)"
            )
        # cbrt(u) = cbrt(u * 1e6) / 100
        return self.add(out, f"({y} * 0.01e0)")

    # -- rendering ----------------------------------------------------------

    def levels(self) -> list[list[tuple[str, str]]]:
        """Greedy dependency leveling: a column referencing a name
        defined in the current batch starts a new batch."""
        out: list[list[tuple[str, str]]] = []
        cur: list[tuple[str, str]] = []
        cur_names: set[str] = set()
        for name, expr in self.items:
            if _refs(expr) & cur_names:
                out.append(cur)
                cur, cur_names = [], set()
            cur.append((name, expr))
            cur_names.add(name)
        if cur:
            out.append(cur)
        return out

    def _plan(self, keep, inputs):
        """Liveness-pruned rendering plan: for each level, the
        pass-through columns still referenced downstream and the subset
        of the level's definitions worth emitting. Without pruning each
        level carries EVERY prior column (`SELECT *`), so a ~600-column
        / ~490-level program pushes ~900-wide vectors through ~490
        projection operators per thread — enough to OOM DuckDB outright
        and to bloat Spark's analysis the same way. With it, width per
        level is the live set (tens), independent of program length."""
        levels = self.levels()
        defined = {n for n, _ in self.items}
        known = defined | set(inputs)
        missing = set(keep) - known
        if missing:
            raise ValueError(f"keep names not defined anywhere: {sorted(missing)}")
        need = set(keep)
        plan = []
        for batch in reversed(levels):
            names_here = {n for n, _ in batch}
            emit = [(n, e) for n, e in batch if n in need]
            carry = sorted(need - names_here)
            refs: set[str] = set()
            for _, e in emit:
                refs |= _refs(e) & known
            need = (need - names_here) | refs
            plan.append((carry, emit))
        plan.reverse()
        return plan

    def apply_spark(self, df, keep=None, inputs=(), segment=None):
        """keep/inputs enable liveness pruning (see _plan): `keep` is
        the column set the caller reads off the result, `inputs` the
        source-frame columns the program may reference or pass through.

        `segment` caps the PLAN DEPTH a single Spark query tree carries:
        every `segment` emitted levels the frame is cut with a lazy
        datamodel.query_checkpoint, so Catalyst's tree recursion and
        whole-stage codegen's consume() recursion each see at most
        `segment` stacked projections. Both recursions overflow the JVM stack somewhere
        past ~300 stacked projections (measured: 307 renders fine, 487
        overflows — analysis when wide, codegen when narrow), and the
        checkpointed intermediate is link-cardinality rows, so the cut
        is free at any scale."""
        from pyspark.sql import functions as F

        from gdalos_spark.datamodel import query_checkpoint

        if keep is None:
            for batch in self.levels():
                df = df.withColumns({n: F.expr(e) for n, e in batch})
            return df
        emitted = 0
        for carry, emit in self._plan(keep, inputs):
            if not emit:
                continue  # fully-dead level: nothing defined here survives
            df = df.select(
                *carry, *[F.expr(e).alias(n) for n, e in emit]
            )
            emitted += 1
            if segment and emitted % segment == 0:
                df = query_checkpoint(df, eager=False)
        return df

    def wrap_sql(self, inner: str, keep=None, inputs=()) -> str:
        """Render as a FLAT WITH-chain (one CTE per level), not nested
        subqueries: the full lrprop program levels ~300 deep, and a
        300-deep `SELECT * FROM (...)` nest exhausts DuckDB's parser
        recursion; a 300-CTE chain is linear and parses fine (an inner
        query carrying its own WITH nests legally inside the first
        CTE's body). keep/inputs enable liveness pruning (see _plan).

        The pruned path renders the input CTE AS MATERIALIZED: DuckDB
        then feeds the chain from a materialized scan, and a sub-morsel
        input (the ITM link table is ~300 rows) runs the WHOLE chain on
        ONE thread. Without it every worker thread instantiates executor
        state for every level, and the >=128 KB per-level chunks each
        become an mmap — ~60k mappings at 32 threads for the ITM
        program, which overruns the kernel's default 65530
        vm.max_map_count and surfaces as a spurious out-of-memory."""
        parts = [f"__sc_in AS ({inner})"]
        prev = "__sc_in"
        if keep is None:
            for i, batch in enumerate(self.levels()):
                cols = ", ".join(f"{e} AS {n}" for n, e in batch)
                parts.append(f"__sc_{i} AS (SELECT *, {cols} FROM {prev})")
                prev = f"__sc_{i}"
            return "WITH " + ",\n".join(parts) + f"\nSELECT * FROM {prev}"
        parts[0] = f"__sc_in AS MATERIALIZED ({inner})"
        for i, (carry, emit) in enumerate(self._plan(keep, inputs)):
            if not emit:
                continue  # fully-dead level: nothing defined here survives
            cols = ", ".join([*carry, *(f"{e} AS {n}" for n, e in emit)])
            parts.append(f"__sc_{i} AS (SELECT {cols} FROM {prev})")
            prev = f"__sc_{i}"
        return "WITH " + ",\n".join(parts) + f"\nSELECT * FROM {prev}"
