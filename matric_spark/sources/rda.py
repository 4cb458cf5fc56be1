"""Minimal pure-Python reader for R's .rda (save()) serialization format.

Scope: just enough of the publicly documented R serialization format
("R Internals" §Serialization Formats, versions 2 and 3, XDR binary
layout) to decode data-frame fixtures like the reference's packaged
`data/cellhealth.rda` and `data/cellhealthmetrics.rda` — i.e. gzipped
XDR streams containing named lists / tibbles of atomic vectors. It is
NOT a general RDS reader: environments, closures, bytecode and
promises are rejected loudly.

Why it exists: the reference pins hard-coded golden metric means on its
packaged 198-row cellhealth dataset (tests/testthat/test-sim_metrics.R:
87-182, test-sim_collate.R:226). Reproducing those exact numbers
requires the exact input rows, which ship only as .rda. pyreadr is not
installed in this environment, so we vendor a ~250-line reader.
"""

from __future__ import annotations

import bz2
import gzip
import lzma
import math
import struct
from typing import Any, BinaryIO

# SEXP type codes (R Internals, Rinternals.h — public)
NILSXP = 0
SYMSXP = 1
LISTSXP = 2
CLOSXP = 3
ENVSXP = 4
PROMSXP = 5
LANGSXP = 6
CHARSXP = 9
LGLSXP = 10
INTSXP = 13
REALSXP = 14
CPLXSXP = 15
STRSXP = 16
DOTSXP = 17
VECSXP = 19
EXPRSXP = 20
RAWSXP = 24
S4SXP = 25

# Serialization pseudo-types (serialize.c — public)
REFSXP = 255
NILVALUE_SXP = 254
GLOBALENV_SXP = 253
UNBOUNDVALUE_SXP = 252
MISSINGARG_SXP = 251
BASENAMESPACE_SXP = 250
NAMESPACESXP = 249
PACKAGESXP = 248
PERSISTSXP = 247
EMPTYENV_SXP = 242
BASEENV_SXP = 241
ATTRLANGSXP = 240
ATTRLISTSXP = 239
ALTREP_SXP = 238

_PAIRLIST_TYPES = {LISTSXP, LANGSXP, PROMSXP, DOTSXP}

R_NA_INT = -2147483648
# R's NA_real_ is a quiet NaN with low word 1954 (XDR bytes below).
_NA_REAL_BYTES = b"\x7f\xf0\x00\x00\x00\x00\x07\xa2"


class RNull:
    """Sentinel for R NULL."""

    def __repr__(self) -> str:  # pragma: no cover
        return "R_NULL"


R_NULL = RNull()


class RObject:
    """A decoded SEXP with attributes (only built when attrs exist)."""

    __slots__ = ("value", "attrs")

    def __init__(self, value: Any, attrs: dict[str, Any]):
        self.value = value
        self.attrs = attrs

    def __repr__(self) -> str:  # pragma: no cover
        return f"RObject({type(self.value).__name__}, attrs={list(self.attrs)})"


def _strip(x: Any) -> Any:
    return x.value if isinstance(x, RObject) else x


def _attrs(x: Any) -> dict[str, Any]:
    return x.attrs if isinstance(x, RObject) else {}


class _Reader:
    def __init__(self, fh: BinaryIO):
        self.fh = fh
        self.refs: list[Any] = []

    # ---- primitives (XDR = big-endian) ----
    def _read(self, n: int) -> bytes:
        b = self.fh.read(n)
        if len(b) != n:
            raise EOFError(f"short read: wanted {n}, got {len(b)}")
        return b

    def u8(self) -> int:
        return self._read(1)[0]

    def i4(self) -> int:
        return struct.unpack(">i", self._read(4))[0]

    def f8(self) -> float:
        raw = self._read(8)
        if raw == _NA_REAL_BYTES:
            return math.nan
        return struct.unpack(">d", raw)[0]

    def length(self) -> int:
        n = self.i4()
        if n == -1:  # long vector: two ints (upper, lower)
            hi, lo = self.i4(), self.i4()
            return (hi << 32) | (lo & 0xFFFFFFFF)
        return n

    # ---- header ----
    def header(self) -> None:
        fmt = self._read(2)
        if fmt != b"X\n":
            raise ValueError(f"only XDR serialization supported, got {fmt!r}")
        version = self.i4()
        self.i4()  # writer R version
        self.i4()  # min reader R version
        if version >= 3:
            n = self.i4()
            self._read(n)  # native encoding name, e.g. "UTF-8"
        if version not in (2, 3):
            raise ValueError(f"unsupported serialization version {version}")

    # ---- items ----
    def item(self) -> Any:
        flags = self.i4()
        sexp = flags & 0xFF
        has_attr = bool(flags & 0x200)
        has_tag = bool(flags & 0x400)
        levels = flags >> 12

        if sexp == NILVALUE_SXP or sexp == NILSXP:
            return R_NULL
        if sexp == REFSXP:
            idx = flags >> 8
            if idx == 0:
                idx = self.i4()
            return self.refs[idx - 1]
        if sexp == SYMSXP:
            name = self.item()  # CHARSXP
            self.refs.append(name)
            return name
        if sexp == CHARSXP:
            n = self.i4()
            if n == -1:
                return None  # NA_character_
            raw = self._read(n)
            try:
                return raw.decode("utf-8")
            except UnicodeDecodeError:
                return raw.decode("latin-1")
        if sexp in _PAIRLIST_TYPES or sexp in (ATTRLISTSXP, ATTRLANGSXP):
            if sexp in (ATTRLISTSXP, ATTRLANGSXP):
                has_attr = True
            attrs = self.item() if has_attr else R_NULL
            tag = self.item() if has_tag else None
            car = self.item()
            cdr = self.item()
            return _Pair(tag, car, cdr, attrs)
        if sexp == ALTREP_SXP:
            return self._altrep()
        if sexp in (LGLSXP, INTSXP):
            n = self.length()
            vals = [self.i4() for _ in range(n)]
            out: list[Any] = [None if v == R_NA_INT else v for v in vals]
            if sexp == LGLSXP:
                out = [None if v is None else bool(v) for v in out]
            return self._with_attrs(out, has_attr)
        if sexp == REALSXP:
            n = self.length()
            return self._with_attrs([self.f8() for _ in range(n)], has_attr)
        if sexp == CPLXSXP:
            n = self.length()
            vals = [complex(self.f8(), self.f8()) for _ in range(n)]
            return self._with_attrs(vals, has_attr)
        if sexp == STRSXP:
            n = self.length()
            return self._with_attrs([self.item() for _ in range(n)], has_attr)
        if sexp in (VECSXP, EXPRSXP):
            n = self.length()
            return self._with_attrs([self.item() for _ in range(n)], has_attr)
        if sexp == RAWSXP:
            n = self.length()
            return self._with_attrs(self._read(n), has_attr)
        if sexp in (GLOBALENV_SXP, BASEENV_SXP, EMPTYENV_SXP):
            return R_NULL
        if sexp in (NAMESPACESXP, PACKAGESXP, PERSISTSXP):
            # stored as a STRSXP name; keep in ref table
            self.i4()  # dummy "flags" int before the strsxp per format
            n = self.i4()
            names = [self.item() for _ in range(n)]
            self.refs.append(names)
            return names
        raise ValueError(f"unsupported SEXP type {sexp} (fixture reader)")

    def _with_attrs(self, value: Any, has_attr: bool) -> Any:
        if not has_attr:
            return value
        attrs = self.item()
        return RObject(value, _pairlist_to_dict(attrs))

    def _altrep(self) -> Any:
        info = self.item()  # pairlist: class sym, package sym, int type
        state = self.item()
        attr = self.item()
        cls = info.car if isinstance(info, _Pair) else None
        name = cls if isinstance(cls, str) else None
        value: Any
        if name in ("compact_intseq", "compact_realseq"):
            n, start, step = _strip(state)
            seq = [start + i * step for i in range(int(n))]
            value = seq if name == "compact_realseq" else [int(v) for v in seq]
        elif name and name.startswith("wrap_"):
            # state = CONS(wrapped_vector, metadata)
            value = _strip(state.car if isinstance(state, _Pair) else state)
        elif name == "deferred_string":
            # state = CONS(source_vector, conversion_info); coerce to str
            src = _strip(state.car if isinstance(state, _Pair) else state)
            value = [None if v is None else str(v) for v in src]
        else:
            raise ValueError(f"unsupported ALTREP class {name!r}")
        if isinstance(attr, _Pair):
            return RObject(value, _pairlist_to_dict(attr))
        return value


class _Pair:
    __slots__ = ("tag", "car", "cdr", "attrs")

    def __init__(self, tag: Any, car: Any, cdr: Any, attrs: Any):
        self.tag = tag
        self.car = car
        self.cdr = cdr
        self.attrs = attrs


def _pairlist_to_dict(p: Any) -> dict[str, Any]:
    out: dict[str, Any] = {}
    while isinstance(p, _Pair):
        if isinstance(p.tag, str):
            out[p.tag] = p.car
        p = p.cdr
    return out


def _open_maybe_compressed(path: str) -> BinaryIO:
    with open(path, "rb") as fh:
        magic = fh.read(5)
    if magic[:2] == b"\x1f\x8b":
        return gzip.open(path, "rb")  # type: ignore[return-value]
    if magic[:3] == b"BZh":
        return bz2.open(path, "rb")  # type: ignore[return-value]
    if magic[:5] == b"\xfd7zXZ":
        return lzma.open(path, "rb")  # type: ignore[return-value]
    return open(path, "rb")


def read_rda(path: str) -> dict[str, Any]:
    """Decode a .rda (save()) file into {object_name: value}.

    Values: lists for atomic vectors (None = NA), `RObject` wrappers
    where R attributes exist, `_Pair` never escapes (pairlists at the
    top level become the returned dict).
    """
    with _open_maybe_compressed(path) as fh:
        magic = fh.read(5)
        if magic not in (b"RDX3\n", b"RDX2\n"):
            raise ValueError(f"not an .rda file (magic {magic!r})")
        r = _Reader(fh)
        r.header()
        top = r.item()
    out: dict[str, Any] = {}
    while isinstance(top, _Pair):
        if isinstance(top.tag, str):
            out[top.tag] = top.car
        top = top.cdr
    return out


# ---- data-frame conversion ----


def _column_to_python(col: Any) -> list[Any]:
    attrs = _attrs(col)
    vals = _strip(col)
    levels = attrs.get("levels")
    if levels is not None:  # factor → labels
        labels = _strip(levels)
        return [None if v is None else labels[v - 1] for v in vals]
    return list(vals)


def dataframe_to_pandas(obj: Any):
    """Convert a decoded R data.frame/tibble to a pandas DataFrame."""
    import pandas as pd

    attrs = _attrs(obj)
    cols = _strip(obj)
    names = _strip(attrs.get("names", R_NULL))
    if not isinstance(cols, list) or not isinstance(names, list):
        raise ValueError("not a data.frame-shaped object")
    data = {}
    for name, col in zip(names, cols):
        data[name] = _column_to_python(col)
    return pd.DataFrame(data)


def named_list(obj: Any) -> dict[str, Any]:
    """Decoded R named list → {name: element}."""
    attrs = _attrs(obj)
    names = _strip(attrs.get("names", R_NULL))
    elems = _strip(obj)
    if not isinstance(names, list):
        raise ValueError("object has no names attribute")
    return dict(zip(names, elems))
