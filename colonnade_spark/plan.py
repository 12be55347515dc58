"""EncodePlan — the ``Colonnade`` analog: an ordered, composable list of
per-column codec specs over a Spark projection.

Combinator parity with the reference (SURVEY.md §2.1; all cites are
/root/reference/colonnade/src/...):

=====================  ==========================================
reference              here
=====================  ==========================================
``headed``             :meth:`EncodePlan.headed` (Colonnade.hs:111-112)
``headless``           :meth:`EncodePlan.headless` (Colonnade.hs:115-116)
``<>`` / ``mconcat``   ``plan_a + plan_b`` (Encode.hs:575-577)
``lmap`` (Profunctor)  ``expr=`` SQL expression pre-projection (Encode.hs:571-573)
``fromMaybe``          :meth:`EncodePlan.from_maybe` (Colonnade.hs:170-172)
``bool``               :meth:`EncodePlan.bool_` (Colonnade.hs:205-211)
``modifyWhen``         :meth:`EncodePlan.modify_when` (Colonnade.hs:217-227)
``replaceWhen``        :meth:`EncodePlan.replace_when` (Colonnade.hs:231-236)
``mapHeaderContent``   :meth:`EncodePlan.map_header` (Colonnade.hs:124-126)
``toHeadless``         :meth:`EncodePlan.to_headless` (Colonnade.hs:134-135)
``columns``            :meth:`EncodePlan.columns` (Colonnade.hs:194-203)
=====================  ==========================================

A plan is immutable; combinators return new plans.  ``plan_hash`` identifies
the plan for checkpoint markers (resume requires byte-identical semantics).
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field, replace
from typing import Iterable, Optional, Sequence


@dataclass(frozen=True)
class ColumnSpec:
    name: str                 # output column name (the header value)
    expr: str                 # Spark SQL expression (the lmap pre-projection)
    codec: str = "auto"       # codec name or "auto"
    post: Optional[str] = None  # post-encode fmap over the block payload

    def canonical(self) -> dict:
        d = {"name": self.name, "expr": self.expr, "codec": self.codec}
        if self.post:
            d["post"] = self.post
        return d


@dataclass(frozen=True)
class EncodePlan:
    specs: tuple = ()
    key_cols: tuple = ()          # row identity for the verification join
    partition_col: Optional[str] = None   # skew/salting key (e.g. "repo")
    cluster_cols: tuple = ()      # staging sort prefix: groups similar content
    #                               so per-stripe FSST/dict tables fit tightly
    headless: bool = False        # a plan of positional ``_cN`` columns;
    #                               part of plan_hash, blocks unchanged

    # -- construction combinators ------------------------------------------
    def headed(self, name: str, expr: Optional[str] = None,
               codec: str = "auto") -> "EncodePlan":
        """One named column; ``expr`` defaults to the column itself."""
        spec = ColumnSpec(name, expr or name, codec)
        if any(s.name == name for s in self.specs):
            raise ValueError(f"duplicate column in plan: {name}")
        return replace(self, specs=self.specs + (spec,))

    def headless_col(self, expr: str, codec: str = "auto") -> "EncodePlan":
        """One anonymous (positional) column."""
        return self.headed(f"_c{len(self.specs)}", expr, codec)

    def derived(self, name: str, expr: str, codec: str = "auto") -> "EncodePlan":
        """lmap: project a derived column before encoding."""
        return self.headed(name, expr, codec)

    def columns(self, values: Iterable[str], name_fn, expr_fn,
                codec: str = "auto") -> "EncodePlan":
        """Dynamic column set — one column per value (the ``columns``
        pivot-like combinator)."""
        plan = self
        for v in values:
            plan = plan.headed(name_fn(v), expr_fn(v), codec)
        return plan

    def __add__(self, other: "EncodePlan") -> "EncodePlan":
        """Monoid append: column concatenation, schema union.

        Positional (headless) names on the RIGHT side are RENUMBERED to
        continue after the left's columns — positional concatenation is
        the whole point of the headless ``<>`` (Encode.hs:575-577), and
        without renumbering two headless-built plans always collided on
        ``_c0``.  Explicit names still collide loudly."""
        import re as _re

        n_left = len(self.specs)
        renamed = tuple(
            ColumnSpec(f"_c{n_left + i}", sp.expr, sp.codec, sp.post)
            if _re.fullmatch(r"_c\d+", sp.name) else sp
            for i, sp in enumerate(other.specs))
        names = {s.name for s in self.specs}
        dups = [s.name for s in renamed if s.name in names]
        if dups:
            raise ValueError(f"duplicate columns on plan append: {dups}")
        return replace(self, specs=self.specs + renamed)

    # -- per-column content transforms -------------------------------------
    def from_maybe(self, name: str, default: str) -> "EncodePlan":
        """Null handling: encode ``coalesce(col, default)``."""
        return self._rewrite(name, lambda e: f"coalesce({e}, {default!r})")

    def bool_(self, name: str, pred: str, then_expr: str,
              else_expr: str) -> "EncodePlan":
        """Predicate-switched cell content."""
        return self._rewrite(
            name, lambda e: f"CASE WHEN {pred} THEN {then_expr} ELSE {else_expr} END")

    def modify_when(self, name: str, pred: str, fn) -> "EncodePlan":
        """Rewrite cells in rows matching ``pred`` (fn maps expr→expr)."""
        return self._rewrite(
            name, lambda e: f"CASE WHEN {pred} THEN {fn(e)} ELSE {e} END")

    def replace_when(self, name: str, pred: str, value: str) -> "EncodePlan":
        """Replace cells in rows matching ``pred`` with a constant."""
        return self._rewrite(
            name, lambda e: f"CASE WHEN {pred} THEN {value!r} ELSE {e} END")

    def map_header(self, fn) -> "EncodePlan":
        """Transform header (column) names only.  The uniqueness invariant
        headed() enforces must survive the rename (fn collapsing 'ID' and
        'id' would otherwise mis-bind decode reattachment downstream)."""
        new_specs = tuple(ColumnSpec(fn(s.name), s.expr, s.codec, s.post)
                          for s in self.specs)
        seen: set = set()
        dups = set()
        for sp in new_specs:
            if sp.name in seen:
                dups.add(sp.name)
            seen.add(sp.name)
        if dups:
            raise ValueError(f"map_header collapsed names: {sorted(dups)}")
        return replace(self, specs=new_specs)

    def post_encode(self, name: str, transform: str = "zlib") -> "EncodePlan":
        """Post-encode ``fmap`` (the content Functor,
        /root/reference/colonnade/src/Colonnade/Encode.hs:569): map the
        column's content AFTER the encoder runs — here a named transform
        over the encoded block payload (e.g. DEFLATE), inverted on decode."""
        if not any(s.name == name for s in self.specs):
            raise KeyError(f"no column {name!r} in plan")
        return replace(self, specs=tuple(
            ColumnSpec(s.name, s.expr, s.codec, transform)
            if s.name == name else s for s in self.specs))

    def to_headless(self) -> "EncodePlan":
        """Mark this a plan of positional columns (``headless``): the flag
        changes ``plan_hash``, not the block bytes."""
        return replace(self, headless=True)

    def to_headed(self, names: Sequence[str]) -> "EncodePlan":
        """General ``mapHeadedness`` in the headless→headed direction
        (/root/reference/colonnade/src/Colonnade/Encode.hs:397-399): attach
        manifest names to positional columns.  ALL problems are aggregated
        into one error (the EitherWrap discipline, siphon/src/Siphon.hs:
        546-555), never first-failure."""
        errs = []
        if len(names) != len(self.specs):
            errs.append(f"arity: {len(self.specs)} positional columns, "
                        f"{len(names)} names")
        seen: dict = {}
        for nm in names:
            seen[nm] = seen.get(nm, 0) + 1
        errs.extend(f"duplicate name: {nm!r} x{k}"
                    for nm, k in seen.items() if k > 1)
        if errs:
            raise ValueError("to_headed resolution failed: " + "; ".join(errs))
        return replace(self, headless=False, specs=tuple(
            ColumnSpec(nm, s.expr, s.codec, s.post)
            for nm, s in zip(names, self.specs)))

    def resolve_positions(self, actual_names: Sequence[str]) -> dict:
        """``headedToIndexed`` at plan level
        (/root/reference/siphon/src/Siphon.hs:252-278): resolve this plan's
        expected column names against an actual name sequence (permuted ok,
        extras ignored).  Returns {name: index}; missing and duplicated
        names are ALL aggregated into one error."""
        errs, out = [], {}
        for s in self.specs:
            hits = [i for i, nm in enumerate(actual_names) if nm == s.name]
            if not hits:
                errs.append(f"missing column: {s.name!r}")
            elif len(hits) > 1:
                errs.append(f"duplicate column: {s.name!r} at {hits}")
            else:
                out[s.name] = hits[0]
        if errs:
            raise ValueError("header resolution failed: " + "; ".join(errs))
        return out

    def with_keys(self, *key_cols: str) -> "EncodePlan":
        return replace(self, key_cols=tuple(key_cols))

    def with_partition_col(self, col: str) -> "EncodePlan":
        return replace(self, partition_col=col)

    def with_cluster(self, *cols: str) -> "EncodePlan":
        return replace(self, cluster_cols=tuple(cols))

    @property
    def stage_order(self) -> list:
        """Total staging order: cluster prefix, then unique keys (ties
        impossible → deterministic layout, required for resume)."""
        return list(self.cluster_cols) + [k for k in self.key_cols
                                          if k not in self.cluster_cols]

    def with_codec(self, name: str, codec: str) -> "EncodePlan":
        return replace(self, specs=tuple(
            ColumnSpec(s.name, s.expr, codec, s.post) if s.name == name else s
            for s in self.specs))

    def _rewrite(self, name: str, fn) -> "EncodePlan":
        if not any(s.name == name for s in self.specs):
            raise KeyError(f"no column {name!r} in plan")
        return replace(self, specs=tuple(
            ColumnSpec(s.name, fn(s.expr), s.codec, s.post)
            if s.name == name else s for s in self.specs))

    # -- execution surface ---------------------------------------------------
    @property
    def column_names(self) -> list:
        return [s.name for s in self.specs]

    def project(self, df):
        """Apply the lmap projection: exactly the planned columns, keys first.

        Column pruning across the Python boundary is manual (SURVEY.md §4.2):
        this select is what keeps unneeded columns out of Arrow transfer.
        """
        from pyspark.sql import functions as F

        cols = [F.expr(s.expr).alias(s.name) for s in self.specs]
        key_extras = [F.col(k) for k in self.key_cols if k not in self.column_names]
        return df.select(*key_extras, *cols)

    def plan_hash(self) -> str:
        blob = self.to_json().encode()
        return hashlib.sha256(blob).hexdigest()[:16]

    def to_json(self) -> str:
        return json.dumps({
            "specs": [s.canonical() for s in self.specs],
            "keys": list(self.key_cols),
            "partition_col": self.partition_col,
            "cluster": list(self.cluster_cols),
            "headless": self.headless,
        }, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "EncodePlan":
        d = json.loads(s)
        return EncodePlan(
            specs=tuple(ColumnSpec(c["name"], c["expr"], c["codec"],
                                   c.get("post")) for c in d["specs"]),
            key_cols=tuple(d["keys"]),
            partition_col=d.get("partition_col"),
            cluster_cols=tuple(d.get("cluster", [])),
            headless=d.get("headless", False),
        )


def plan() -> EncodePlan:
    """Empty plan (the Monoid identity)."""
    return EncodePlan()


def corpus_plan() -> EncodePlan:
    """The flagship plan for the source-code corpus (input_hint schema)."""
    return (plan()
            .headed("repo").headed("path").headed("commit")
            .headed("lang").headed("content")
            .with_keys("repo", "path", "commit")
            .with_partition_col("repo")
            .with_cluster("lang", "repo"))
