"""Entity-version diff kernels (SURVEY §2.3, D1-D7) as pure column
expressions over ``MapType`` payloads.

The reference diffs two one-row pandas frames per record
(determine_change_job.py:110-191, get_flat_df :73-83). Here the payloads
stay ``map<string,string>`` (attributes, values JSON-encoded) and
``map<string,array<struct>>`` (relationships), and every diff is a
codegen'd map/array expression — no Python, no per-record frames, so the
kernel vectorizes across a 100 TB stream.

Deliberate semantic deviations from the reference (SURVEY §7.4):
- clean key-set semantics for added/changed/deleted (the reference's
  ``or`` guards at determine_change_job.py:173,181,189 make its empty
  checks near-vacuous);
- list equality is multiset-insensitive both ways (array_except in both
  directions), not the reference's one-directional subset check
  (determine_change_job.py:117-123).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _keys(m: Column) -> Column:
    return F.map_keys(F.coalesce(m, F.map_from_arrays(F.array(), F.array())))


def drop_null_values(m: Column) -> Column:
    """P8 delete_null_values_from_dict (determine_change_job.py:60-65):
    strip entries whose value is NULL before diffing/keying."""
    return F.map_filter(m, lambda _, v: v.isNotNull())


def drop_list_values(m: Column) -> Column:
    """P7 delete_list_values_from_dict (determine_change_job.py:53-58):
    strip entries whose (JSON-encoded) value is a list — list-valued
    attributes are relationship-like and diff separately (D5/D6).
    NULL values are kept (they are not lists; P8 handles them)."""
    return F.map_filter(
        m, lambda _, v: v.isNull() | ~F.ltrim(v).startswith("[")
    )


def inserted_keys(old: Column, new: Column) -> Column:
    """D2 get_added_fields: keys present in new, absent in old."""
    return F.array_sort(F.array_except(_keys(new), _keys(old)))


def deleted_keys(old: Column, new: Column) -> Column:
    """D4 get_deleted_fields: keys present in old, absent in new."""
    return F.array_sort(F.array_except(_keys(old), _keys(new)))


def changed_keys(old: Column, new: Column) -> Column:
    """D1+D3 get_changed_fields: keys in both whose values differ
    (NULL-safe)."""
    common = F.array_intersect(_keys(old), _keys(new))
    return F.array_sort(
        F.filter(
            common,
            lambda k: ~F.element_at(old, k).eqNullSafe(F.element_at(new, k)),
        )
    )


def _emptied(like: Column) -> Column:
    """Same map type as ``like`` with every value -> [] — a typed 'empty'
    stand-in for a NULL side (an untyped empty-map literal fails
    analysis, and map_zip_with over a NULL map yields NULL)."""
    return F.transform_values(like, lambda _, v: F.slice(v, 1, 0))


def inserted_relationships(old: Column, new: Column) -> Column:
    """D5 get_added_relationships: per relationship key, elements of the
    new list not in the old list (set semantics); keys with no additions
    are dropped. A NULL old side (CREATE path) counts every element as
    added; a NULL new side (DELETE path) yields no additions."""
    old2 = F.coalesce(old, _emptied(new))
    new2 = F.coalesce(new, _emptied(old))
    return F.map_filter(
        F.map_zip_with(
            new2,
            old2,
            lambda _, n, o: F.array_except(
                F.coalesce(n, F.array()), F.coalesce(o, F.array())
            ),
        ),
        lambda _, added: F.size(added) > 0,
    )


def deleted_relationships(old: Column, new: Column) -> Column:
    """D6 get_deleted_relationships: symmetric to D5."""
    return inserted_relationships(new, old)


def attribute_diff_struct(old: Column, new: Column) -> Column:
    """D1-D4 in one struct: inserted/changed/deleted key arrays."""
    return F.struct(
        inserted_keys(old, new).alias("inserted_attributes"),
        changed_keys(old, new).alias("changed_attributes"),
        deleted_keys(old, new).alias("deleted_attributes"),
    )


def has_attribute_diff(diff: Column) -> Column:
    return (
        (F.size(diff.inserted_attributes) > 0)
        | (F.size(diff.changed_attributes) > 0)
        | (F.size(diff.deleted_attributes) > 0)
    )
