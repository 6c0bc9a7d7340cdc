"""Struct-column support: flatten to encoded leaves, reassemble on decode.

The reference's schema walker classifies List/Map/Struct nodes and
tracks definition levels at depth (src/metadata/utils.rs:24-31,88-209;
src/utils/rep_def_parser.rs:36-46).  boltspark's kernel layer encodes
LEAF streams only — so nested columns are split into leaves before
the kernels and rebuilt after them:

* encode: ``struct<a,b>`` flattens to leaf columns ``s\\x1fa``/``s\\x1fb``
  (a plain ``select`` — no Python), each encoded like any other column
  with its own codec choice, zone maps and pushdown;
* a hidden boolean leaf ``s\\x1f#defined`` records struct-level validity
  for NULLABLE structs, so a null struct and a struct of nulls decode
  back distinctly (the definition-level distinction at depth);
* decode: ``assemble`` rebuilds the logical column from its decoded
  leaves as Arrow arrays inside the decode task (the validity leaf
  masks null structs), so no shuffle and no rebuild expression follow;
* predicates may target leaves by dotted path (``meta.width``), which
  resolves to the flat leaf name and pushes down exactly like a
  top-level column (zone-map skip + mask cascade).

``\\x1f`` (ASCII unit separator) cannot appear in sane column names;
``encode_table`` rejects names containing it up front.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, functions as F, types as T

SEP = "\x1f"
DEFINED = SEP + "#defined"


def needs_flatten(dtype: T.DataType) -> bool:
    """True if this column type needs the flatten/rebuild treatment:
    structs, maps, list<struct> (parallel list leaves), and
    list<list<T>> (lengths + flattened stream)."""
    if isinstance(dtype, (T.StructType, T.MapType)):
        return True
    return (isinstance(dtype, T.ArrayType)
            and isinstance(dtype.elementType, (T.StructType, T.ArrayType)))


def has_struct(schema: T.StructType) -> bool:
    """True if any column needs the flatten/rebuild treatment."""
    return any(needs_flatten(f.dataType) for f in schema.fields)


def contains_map(dtype: T.DataType) -> bool:
    if isinstance(dtype, T.MapType):
        return True
    if isinstance(dtype, T.StructType):
        return any(contains_map(f.dataType) for f in dtype.fields)
    return False


def flatten_exprs(schema: T.StructType) -> tuple[list[Column], T.StructType]:
    """(select expressions, flat schema) flattening every struct column
    of ``schema`` to leaf columns.  Non-struct columns pass through."""
    exprs: list[Column] = []
    fields: list[T.StructField] = []

    def walk(expr: Column, name: str, dtype: T.DataType, nullable: bool):
        if isinstance(dtype, T.StructType):
            if nullable:
                exprs.append(expr.isNotNull().alias(name + DEFINED))
                fields.append(T.StructField(name + DEFINED, T.BooleanType(), False))
            for f in dtype.fields:
                # a leaf under a nullable ancestor is nullable in storage
                # even if declared non-null (getField of NULL is NULL)
                walk(expr.getField(f.name), name + SEP + f.name,
                     f.dataType, f.nullable or nullable)
        elif isinstance(dtype, T.MapType):
            # map -> two aligned list leaves; a NULL map yields NULL
            # leaves while an empty map yields empty arrays, so no
            # validity leaf is needed (map_keys(NULL) IS NULL)
            exprs.append(F.map_keys(expr).alias(name + SEP + "#keys"))
            fields.append(T.StructField(
                name + SEP + "#keys", T.ArrayType(dtype.keyType, False), True))
            exprs.append(F.map_values(expr).alias(name + SEP + "#vals"))
            fields.append(T.StructField(
                name + SEP + "#vals",
                T.ArrayType(dtype.valueType, dtype.valueContainsNull), True))
        elif (isinstance(dtype, T.ArrayType)
              and isinstance(dtype.elementType, T.ArrayType)):
            # list<list<T>> -> two leaves: inner lengths (array<int>,
            # null element = null inner list — size(NULL) is NULL) and
            # the flattened element stream (null inners filtered out
            # first: Spark's flatten() nulls the whole result if any
            # inner is null).  Rebuild re-slices by running offsets.
            inner = dtype.elementType
            if isinstance(inner.elementType, (T.StructType, T.ArrayType,
                                              T.MapType)):
                raise TypeError(
                    f"list<list<...>> column {name}: elements deeper than "
                    f"two list levels / non-atomic inner elements "
                    f"unsupported ({inner.elementType.simpleString()})")
            exprs.append(F.transform(
                expr, lambda x: F.size(x)).alias(name + SEP + "#llen"))
            fields.append(T.StructField(
                name + SEP + "#llen",
                T.ArrayType(T.IntegerType(), dtype.containsNull), True))
            exprs.append(F.flatten(
                F.filter(expr, lambda x: x.isNotNull())
            ).alias(name + SEP + "#lflat"))
            fields.append(T.StructField(
                name + SEP + "#lflat",
                T.ArrayType(inner.elementType, inner.containsNull), True))
        elif (isinstance(dtype, T.ArrayType)
              and isinstance(dtype.elementType, T.StructType)):
            # list<struct<...>> -> parallel list leaves sharing one
            # offsets stream (the struct scheme one level down): one
            # array<fieldtype> leaf per struct field via transform, plus
            # an array<int> 0/1 element-validity leaf when elements may
            # be null (a null struct element vs a struct of nulls must
            # decode back distinctly).  Fields must be atomic — the
            # reference refuses ALL nesting (rep_def_parser.rs:36-46);
            # one struct level inside lists is the leapfrog scope here.
            est = dtype.elementType
            for f in est.fields:
                if isinstance(f.dataType, (T.StructType, T.ArrayType,
                                           T.MapType)):
                    raise TypeError(
                        f"list<struct> field {name}.{f.name}: nested "
                        f"{f.dataType.simpleString()} elements unsupported")
            if dtype.containsNull:
                exprs.append(F.transform(
                    expr, lambda x: F.when(x.isNotNull(), 1).otherwise(0)
                    .cast("int")).alias(name + SEP + "#edef"))
                fields.append(T.StructField(
                    name + SEP + "#edef",
                    T.ArrayType(T.IntegerType(), False), True))
            def _field_getter(fname):
                # NOTE: a 2-arg lambda would make F.transform pass the
                # element INDEX as the second argument — close over the
                # field name instead
                return lambda x: x[fname]

            for f in est.fields:
                exprs.append(F.transform(
                    expr, _field_getter(f.name)
                ).alias(name + SEP + "#elem" + SEP + f.name))
                fields.append(T.StructField(
                    name + SEP + "#elem" + SEP + f.name,
                    T.ArrayType(f.dataType, True), True))
        else:
            exprs.append(expr.alias(name))
            fields.append(T.StructField(name, dtype, nullable))

    for f in schema.fields:
        walk(F.col(f.name), f.name, f.dataType, f.nullable)
    return exprs, T.StructType(fields)


def leaf_names(name: str, dtype: T.DataType, nullable: bool) -> list[str]:
    """Flat storage column names for one logical column."""
    if isinstance(dtype, T.MapType):
        return [name + SEP + "#keys", name + SEP + "#vals"]
    if (isinstance(dtype, T.ArrayType)
            and isinstance(dtype.elementType, T.ArrayType)):
        return [name + SEP + "#llen", name + SEP + "#lflat"]
    if (isinstance(dtype, T.ArrayType)
            and isinstance(dtype.elementType, T.StructType)):
        out = [name + SEP + "#edef"] if dtype.containsNull else []
        return out + [name + SEP + "#elem" + SEP + f.name
                      for f in dtype.elementType.fields]
    if not isinstance(dtype, T.StructType):
        return [name]
    out = [name + DEFINED] if nullable else []
    for f in dtype.fields:
        out += leaf_names(name + SEP + f.name, f.dataType, f.nullable or nullable)
    return out


def _as(arr: pa.Array, target: pa.DataType) -> pa.Array:
    return arr if arr.type.equals(target) else arr.cast(target)


def _offsets(arr: pa.Array, onp: np.ndarray | None = None) -> pa.Array:
    """int32 list offsets (``arr``'s own, or ``onp``), null where the
    list row of ``arr`` is null — the final offset stays valid."""
    if onp is None:
        onp = np.asarray(arr.offsets)
    mask = (np.append(~np.asarray(arr.is_valid()), False)
            if arr.null_count else None)
    return pa.array(onp, type=pa.int32(), mask=mask)


def assemble(name: str, dtype: T.DataType, nullable: bool,
             target: pa.DataType, leaves: dict) -> pa.Array:
    """Decoded leaf arrays (flat leaf name -> Arrow array, all of the
    same length) -> the logical column ``name`` as an Arrow array of
    ``target`` — the inverse of ``flatten_exprs``, run inside the
    decode task so no rebuild expression follows the Python node.

    List leaves are re-wrapped through their raw ``values`` plus
    ``offsets``: the pair stays consistent even for a sliced array
    (``flatten()`` would compact the values and desync them)."""
    if isinstance(dtype, T.MapType):
        # two aligned list leaves from one encode: vals shares the keys
        # leaf's offsets, and a NULL map is a NULL list in both
        # (map_keys(NULL) IS NULL), so the keys leaf's validity is the map's
        keys = leaves[name + SEP + "#keys"]
        vals = leaves[name + SEP + "#vals"]
        if len(keys.values) != len(vals.values):
            raise ValueError(
                f"misaligned map leaves for {name!r}: "
                f"{len(keys.values)} keys vs {len(vals.values)} values")
        out = pa.MapArray.from_arrays(_offsets(keys), keys.values, vals.values)
    elif (isinstance(dtype, T.ArrayType)
          and isinstance(dtype.elementType, T.ArrayType)):
        # inner lists re-slice the flattened stream by the cumulative
        # inner lengths; the lengths leaf's own offsets are the outer's
        llen = leaves[name + SEP + "#llen"]
        flat = leaves[name + SEP + "#lflat"]
        lens = llen.values  # a null length = a null inner list
        starts = np.zeros(len(lens) + 1, dtype=np.int32)
        np.cumsum(np.asarray(lens.fill_null(0), dtype=np.int32),
                  out=starts[1:])
        inner = pa.ListArray.from_arrays(
            _offsets(lens, starts),
            _as(flat.values, target.value_type.value_type))
        out = pa.ListArray.from_arrays(_offsets(llen), inner)
    elif (isinstance(dtype, T.ArrayType)
          and isinstance(dtype.elementType, T.StructType)):
        # parallel field leaves sharing one offsets stream; the 0/1
        # #edef leaf restores null elements
        elem_t = target.value_type
        fields = [leaves[name + SEP + "#elem" + SEP + f.name]
                  for f in dtype.elementType.fields]
        base, mask = fields[0], None
        if dtype.containsNull:
            base = leaves[name + SEP + "#edef"]
            mask = pc.equal(base.values, 0)
        elems = pa.StructArray.from_arrays(
            [_as(fa.values, f.type) for f, fa in zip(elem_t, fields)],
            fields=list(elem_t), mask=mask)
        out = pa.ListArray.from_arrays(_offsets(base), elems)
    elif isinstance(dtype, T.StructType):
        children = [
            assemble(name + SEP + f.name, f.dataType, f.nullable or nullable,
                     t.type, leaves)
            for f, t in zip(dtype.fields, target)
        ]
        mask = None
        if nullable:
            # a NULL #defined (a group predating the column) = NULL struct
            mask = pc.invert(leaves[name + DEFINED]).fill_null(True)
        return pa.StructArray.from_arrays(children, fields=list(target),
                                          mask=mask)
    else:
        return leaves[name]
    return _as(out, target)


def resolve_leaf(path: str, schema: T.StructType) -> str | None:
    """Dotted predicate path ('meta.width') -> flat leaf name, or None
    if the path does not name a leaf of ``schema``."""
    parts = path.split(".")
    fields = schema.fields
    flat = parts[0]
    dtype = None
    for i, p in enumerate(parts):
        match = next((f for f in fields if f.name == p), None)
        if match is None:
            return None
        dtype = match.dataType
        if i:
            flat += SEP + p
        if isinstance(dtype, T.StructType):
            fields = dtype.fields
        elif i != len(parts) - 1:
            return None  # path descends into a non-struct
    return None if isinstance(dtype, T.StructType) else flat
