"""UE path algebra as Spark Column expressions (SURVEY.md §2.7).

The reference does all of this with python str.split/rsplit per row:
- UE asset path ↔ filesystem path (`/Game/…` ↔ `…/Content/…`):
  `scene_scanner.py:66-81,148-160`, `core/ue_api.py:57-67`
- package/asset split on '.': `camera_exporter.py:16-33`
- numeric-suffix strip `_\\d+$`: `render_engine.py:105`
- scene-id detection `^S\\d{4}$`: `run_render_job_headless.py:233-238`
- date-suffix detection `/\\d{4}-\\d{2}-\\d{2}$`: `job_utils.py:80-85`
- first path segment projection: `scene_scanner.py:593-614`

All pure Column expressions — codegen'd, no UDFs, usable in filters so they
stay pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ue_asset_path(fs_path: Column, content_marker: str = "/Content/") -> Column:
    """Filesystem path under Content/ → UE asset path `/Game/...` without the
    file extension (`scene_scanner.py:148-160`)."""
    after = F.substring_index(fs_path, content_marker, -1)
    no_ext = F.regexp_replace(after, r"\.[A-Za-z0-9]+$", "")
    return F.concat(F.lit("/Game/"), no_ext)


def fs_relative_path(asset_path: Column) -> Column:
    """UE asset path `/Game/X/Y` → Content-relative filesystem path `X/Y`
    (`core/ue_api.py:57-67`)."""
    return F.regexp_replace(asset_path, r"^/Game/", "")


def package_and_asset(path: Column) -> Column:
    """Split `/Game/Pkg/Name.Name` into struct(package, asset)
    (`camera_exporter.py:16-33`).  Paths without '.' get asset = last path
    segment (UE's implicit asset name)."""
    pkg = F.substring_index(path, ".", 1)
    asset = F.when(
        path.contains("."), F.substring_index(path, ".", -1)
    ).otherwise(F.element_at(F.split(path, "/"), -1))
    return F.struct(pkg.alias("package"), asset.alias("asset"))


def strip_numeric_suffix(name: Column) -> Column:
    """`Demo_001` → `Demo` (`render_engine.py:105`)."""
    return F.regexp_replace(name, r"_\d+$", "")


def numeric_suffix(name: Column) -> Column:
    """Trailing `_NNN` index as int, null when absent — feeds the max-index
    scan (`worker_create.py:175-194`)."""
    s = F.regexp_extract(name, r"_(\d+)$", 1)
    return F.when(s != "", s.cast("int"))


def is_scene_id(segment: Column) -> Column:
    """`^S\\d{4}$` scene-id predicate (`run_render_job_headless.py:233-238`)."""
    return segment.rlike(r"^S\d{4}$")


def has_date_suffix(path: Column) -> Column:
    """Path already ends with `/YYYY-MM-DD` (`job_utils.py:80-85`)."""
    return path.rlike(r"[/\\]\d{4}-\d{2}-\d{2}$")


def with_date_suffix(path: Column, date: Column | None = None) -> Column:
    """Append `/YYYY-MM-DD` unless already present — the reference mutates
    every `*output*dir*` config key this way (`job_utils.py:53-104`)."""
    d = F.date_format(date if date is not None else F.current_date(), "yyyy-MM-dd")
    return F.when(has_date_suffix(path), path).otherwise(
        F.concat(F.regexp_replace(path, r"[/\\]$", ""), F.lit("/"), d)
    )


def path_stem(path: Column) -> Column:
    """Filename without directory or extension (pathlib .stem analog)."""
    base = F.element_at(F.split(path, r"[/\\]"), -1)
    return F.regexp_replace(base, r"\.[A-Za-z0-9]+$", "")


def path_ext(path: Column) -> Column:
    """Lowercased extension without the dot ('' when none)."""
    base = F.element_at(F.split(path, r"[/\\]"), -1)
    return F.when(
        base.rlike(r"\.[A-Za-z0-9]+$"),
        F.lower(F.regexp_extract(base, r"\.([A-Za-z0-9]+)$", 1)),
    ).otherwise(F.lit(""))


def human_bytes(size: Column) -> Column:
    """Human-readable byte size (`copy_scene_assets.py:192-197` semantics:
    1024 steps, one decimal)."""
    kb, mb, gb, tb = 1024.0, 1024.0**2, 1024.0**3, 1024.0**4
    s = size.cast("double")
    return (
        F.when(s >= tb, F.concat(F.format_number(s / tb, 1), F.lit(" TB")))
        .when(s >= gb, F.concat(F.format_number(s / gb, 1), F.lit(" GB")))
        .when(s >= mb, F.concat(F.format_number(s / mb, 1), F.lit(" MB")))
        .when(s >= kb, F.concat(F.format_number(s / kb, 1), F.lit(" KB")))
        .otherwise(F.concat(s.cast("long").cast("string"), F.lit(" B")))
    )


def glob_to_rlike(pattern: str) -> str:
    """fnmatch glob → anchored Java regex, for the reference's glob-based
    exclusion filters (`scene_copy.py:68-92`)."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        elif ch in r"\.[]{}()+-^$|":
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "^" + "".join(out) + "$"


def excluded_by_patterns(name: Column, patterns: list[str]) -> Column:
    """Case-insensitive substring-pattern exclusion
    (`scene_scanner.py:49-63`): true if ANY pattern is a substring of name."""
    cond = F.lit(False)
    low = F.lower(name)
    for p in patterns:
        cond = cond | low.contains(p.lower())
    return cond


def longest_common_prefix(a: Column, b: Column) -> Column:
    """Longest common prefix of two strings as a Column expression.

    The reference folds LCP across a path list imperatively
    (`scene_copy.py:341-369`).  Closed form used here: the LCP of a *set* of
    strings equals LCP(min, max) under lexicographic order, so a groupBy only
    needs min/max aggregates (no per-group iteration) and this pairwise
    expression — O(1) state per group at any scale."""
    n = F.least(F.length(a), F.length(b))
    idx = F.array_max(
        F.filter(
            F.sequence(F.lit(0), n),
            lambda i: a.substr(F.lit(1), i) == b.substr(F.lit(1), i),
        )
    )
    return a.substr(F.lit(1), idx)


def excluded_system_dir(name: Column, system_dirs: list[str] | None = None) -> Column:
    """UE system-dir / underscore-prefix exclusion (`scene_scanner.py:96-117`)."""
    system_dirs = system_dirs or [
        "__ExternalActors__",
        "__ExternalObjects__",
        "Collections",
        "Developers",
        "LevelPrototyping",
    ]
    return name.isin(system_dirs) | name.startswith("_")
