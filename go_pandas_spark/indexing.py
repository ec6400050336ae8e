"""``.loc`` / ``.iloc`` indexers (reference ``pandas/core/indexing.py``:
``_LocIndexer:1537``, ``_iLocIndexer:1912``, setter paths ``:630``).

Label semantics (loc): slices are INCLUSIVE of both endpoints, label
lists raise ``KeyError`` when any label is absent, boolean Series
filter, and ``df.loc[rows, col] = value`` is a conditional update.
Positional semantics (iloc): ints (negative ok), lists of ints,
slices with step (negative step reverses the row order contract).

Distribution notes: label filters compile to Catalyst predicates on
the index column (partition-prunable at rest); the ``KeyError``
membership check is one tiny aggregation (distinct matched labels vs.
requested — bounded by the label-list size, never by data size);
positional access needs a row_number over the order contract plus —
only when negatives are involved — one COUNT job for the length.
"""

from __future__ import annotations

from pyspark.sql import Column, Window as W, functions as F

from . import _internal as I


class _LocIndexer:
    def __init__(self, frame):
        self._f = frame

    # -- row predicate ------------------------------------------------
    def _row_cond(self, key) -> Column | None:
        from .series import Series

        f = self._f
        if callable(key) and not isinstance(key, Series):
            key = key(f)  # pandas: df.loc[lambda d: ...]
        if key is None or (isinstance(key, slice)
                           and key.start is None and key.stop is None
                           and key.step is None):
            return None  # df.loc[:] / df.loc[:, cols] work without an index
        if isinstance(key, slice):
            if key.step is not None:
                raise ValueError("loc slices do not support a step")
            if not f._index_names:
                raise ValueError(".loc slice needs an index — call set_index first")
            col = F.col(I.index_col(0))
            cond = F.lit(True)
            if key.start is not None:
                cond = cond & (col >= F.lit(key.start))
            if key.stop is not None:
                cond = cond & (col <= F.lit(key.stop))  # label slices: inclusive
            return cond
        if isinstance(key, Series):
            return key._scol
        labels = key if isinstance(key, (list, tuple)) else [key]
        if not f._index_names:
            raise ValueError(".loc label lookup needs an index — call set_index first")
        col = F.col(I.index_col(0))
        self._check_membership(list(labels), col)
        return col.isin(list(labels))

    def _check_membership(self, labels: list, col: Column) -> None:
        """pandas raises KeyError for absent labels. One aggregation
        bounded by len(labels): distinct matched labels collected as a
        set (small by construction)."""
        matched = (self._f._sdf.filter(col.isin(labels))
                   .agg(F.collect_set(col).alias("s")).first()["s"])
        missing = set(labels) - set(matched or [])
        if missing:
            raise KeyError(f"labels not found in index: {sorted(missing)!r}")

    def __getitem__(self, key):
        f = self._f
        col_key = None
        if isinstance(key, tuple):
            key, col_key = key
        cond = self._row_cond(key)
        out = f if cond is None else f._copy(f._sdf.filter(cond))
        if col_key is None or (isinstance(col_key, slice) and col_key == slice(None)):
            return out
        if isinstance(col_key, str):
            return out[[col_key]]
        if isinstance(col_key, slice):  # label slice over columns, inclusive
            cols = out.columns
            i0 = cols.index(col_key.start) if col_key.start is not None else 0
            i1 = cols.index(col_key.stop) + 1 if col_key.stop is not None else len(cols)
            return out[cols[i0:i1]]
        return out[list(col_key)]

    def __setitem__(self, key, value) -> None:
        """``df.loc[rows, col] = value`` (``indexing.py:630`` setter):
        conditional column update, fully distributed."""
        from .series import Series

        if not (isinstance(key, tuple) and len(key) == 2):
            raise ValueError("loc setter needs df.loc[rows, column] = value")
        row_key, col_key = key
        cond = self._row_cond(row_key)
        cols = [col_key] if isinstance(col_key, str) else list(col_key)
        f = self._f
        for c in cols:
            val = value._scol if isinstance(value, Series) else F.lit(value)
            # a duplicate label updates EVERY physical occurrence
            # (pandas loc-setter contract); absent labels append once
            targets = f._phys_for_label(c) or [c]
            for t in targets:
                if t in f._sdf.columns:
                    newc = val if cond is None else \
                        F.when(cond, val).otherwise(F.col(t))
                else:
                    newc = val if cond is None else F.when(cond, val)
                f._sdf = f._sdf.withColumn(t, newc)


class _ILocIndexer:
    def __init__(self, frame):
        self._f = frame

    def _positions(self, key):
        """Resolve the row selector to (cond(rn_col) predicate builder,
        reverse?). A window expression can't sit in a WHERE clause, so
        the caller materializes __rn__ first."""
        f = self._f
        if isinstance(key, int):
            key = [key]
        if isinstance(key, (list, tuple)):
            pos = list(key)
            if any(p < 0 for p in pos):
                n = len(f)
                pos = [p if p >= 0 else n + p for p in pos]
            return (lambda rn: rn.isin(pos)), False
        if isinstance(key, slice):
            start, stop, step = key.start, key.stop, key.step
            step = 1 if step is None else step
            if step == 0:
                raise ValueError("slice step cannot be zero")
            neg = any(v is not None and v < 0 for v in (start, stop)) or step < 0
            if neg:
                start_, stop_, step_ = slice(start, stop, step).indices(len(f))
            else:
                start_, stop_, step_ = start or 0, stop, step
            if step_ > 0:
                def cond(rn, start_=start_, stop_=stop_, step_=step_):
                    c = rn >= start_
                    if stop_ is not None:
                        c = c & (rn < stop_)
                    if step_ != 1:
                        c = c & ((rn - F.lit(start_)) % step_ == 0)
                    return c
                return cond, False

            # negative step: positions start_, start_+step_, … > stop_
            def cond(rn, start_=start_, stop_=stop_, step_=step_):
                c = (rn <= start_) & ((F.lit(start_) - rn) % (-step_) == 0)
                if stop_ is not None:
                    c = c & (rn > stop_)
                return c
            return cond, True
        raise TypeError(f"unsupported iloc selector: {key!r}")

    def __getitem__(self, key):
        f = self._f
        col_key = None
        if isinstance(key, tuple):
            key, col_key = key
        if isinstance(key, slice) and key == slice(None):
            out = f
        else:
            cond, reverse = self._positions(key)
            from .operators.distwindow import position_expr

            sdf = (f._sdf.withColumn("__rn__", position_expr(f._sdf))
                   .filter(cond(F.col("__rn__"))).drop("__rn__"))
            if reverse:
                sdf = (sdf.orderBy(F.col(I.ORDER_COL).desc())
                       .drop(I.ORDER_COL)
                       .withColumn(I.ORDER_COL, F.monotonically_increasing_id()))
            out = f._copy(sdf)
        if col_key is None or (isinstance(col_key, slice) and col_key == slice(None)):
            return out
        if f._dup_labels:
            # positional selection must pick ONE physical occurrence,
            # not every column sharing the label
            phys = f._phys_cols
            if isinstance(col_key, int):
                sel = [phys[col_key]]
            elif isinstance(col_key, slice):
                sel = list(phys[col_key])
            else:
                sel = [phys[i] for i in col_key]
            keep = [F.col(c) for c in out._sdf.columns if I.is_internal(c)]
            labels = [f._dup_labels.get(c, c) for c in sel]
            from .frame import Frame

            if len(set(labels)) == len(labels):
                sdf = out._sdf.select(
                    *keep, *[F.col(c).alias(lab)
                             for c, lab in zip(sel, labels)])
                return Frame(sdf, out._index_names)
            sdf = out._sdf.select(*keep, *[F.col(c) for c in sel])
            return Frame(sdf, out._index_names,
                         dup_labels={c: lab
                                     for c, lab in zip(sel, labels)})
        cols = f.columns
        if isinstance(col_key, int):
            return out[[cols[col_key]]]
        if isinstance(col_key, slice):
            return out[cols[col_key]]
        return out[[cols[i] for i in col_key]]
