"""Study-directory discovery: walk, classify, parse meta, pair meta<->data.

Re-expresses the reference's driver-side discovery (S1-S3, P4, J1 in
SURVEY.md §2):
  * recursive walk pruning ``case_lists`` dirs (cmd/cli/main.go:252-262)
  * filename classification — lowercased regex match, ``seg`` exclusion
    (cmd/cli/main.go:264-302, 451-488)
  * ``key: value`` meta parsing with early exit
    (cmd/cli/main.go:352-394)
  * meta<->data pairing keyed on ``dir/data_filename`` with left-outer
    semantics: a data file without meta is processed with empty
    study/profile ids plus a warning (cmd/cli/main.go:286-292, 324-332)

This is metadata-scale work (thousands of paths, not rows), so it runs
on the driver in pure Python and produces the manifest that Spark jobs
consume. Unlike the reference — whose file order comes from Go map
iteration and is therefore randomized per run (cmd/cli/main.go:309,496)
— the manifest is sorted by path: deterministic output is an intentional
fix documented in SURVEY §4.2.
"""

from __future__ import annotations

import logging
import os
import re
from dataclasses import dataclass

logger = logging.getLogger(__name__)

# cmd/cli/main.go:271,297 — lowercased filename patterns, "seg" excluded
_META_CNA_RE = re.compile(r"^meta_.*cna.*\.txt$")
_DATA_CNA_RE = re.compile(r"^data_.*cna.*\.txt$")
# cmd/cli/main.go:458,484
_META_MUT_RE = re.compile(r"^meta_mutations.*\.txt$")
_DATA_MUT_RE = re.compile(r"^data_mutations.*\.txt$")

# cmd/cli/main.go:256-262 — ANY path containing the substring is
# skipped (SkipDir for dirs, ignored for files)
_PRUNED_SUBSTR = "case_lists"


@dataclass(frozen=True)
class CNAFileInput:
    """Mirror of cna.CNAFileInput (cna/transformer.go:16-21)."""

    path: str
    cancer_study_id: str
    genetic_profile_id: str


@dataclass(frozen=True)
class MutationFileInput:
    """Mirror of mutation.MutationFileInput (mutation/transformer.go:16-21)."""

    path: str
    cancer_study_id: str
    genetic_profile_id: str


def parse_meta_file(meta_path: str) -> tuple[str, str, str]:
    """Parse ``key: value`` meta file -> (study, stable_id, data_filename).

    Skips blank lines and ``#`` comments; early-exits once all three keys
    are found (cmd/cli/main.go:352-394). Missing keys yield "".
    """
    study = stable_id = data_filename = ""
    with open(meta_path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("#"):
                continue
            key, sep, value = line.partition(":")
            if not sep:
                continue
            key = key.strip()
            value = value.strip()
            if key == "cancer_study_identifier":
                study = value
            elif key == "stable_id":
                stable_id = value
            elif key == "data_filename":
                data_filename = value
            if study and stable_id and data_filename:
                break
    return study, stable_id, data_filename


def _walk_classify(
    root_dir: str,
    meta_re: re.Pattern[str],
    data_re: re.Pattern[str],
    exclude_substr: str | None,
) -> tuple[list[str], list[str]]:
    meta_files: list[str] = []
    data_files: list[str] = []
    for dirpath, dirnames, filenames in os.walk(root_dir):
        # prune any dir whose path contains "case_lists"
        # (cmd/cli/main.go:256-262 uses strings.Contains on the path)
        dirnames[:] = sorted(
            d
            for d in dirnames
            if _PRUNED_SUBSTR not in os.path.join(dirpath, d)
        )
        for name in sorted(filenames):
            full = os.path.join(dirpath, name)
            if _PRUNED_SUBSTR in full:
                continue  # files under/containing case_lists also skip
            lower = name.lower()
            if exclude_substr and exclude_substr in lower:
                continue  # cmd/cli/main.go:272,298
            if meta_re.match(lower):
                meta_files.append(full)
            elif data_re.match(lower):
                data_files.append(full)
    return sorted(meta_files), sorted(data_files)


def _pair(
    meta_files: list[str],
    data_files: list[str],
    make_input,
) -> list:
    """LEFT-OUTER pair data files with their meta via dir/data_filename.

    Build side: meta manifest keyed by ``join(dir(meta), data_filename)``
    (cmd/cli/main.go:286-292). Probe side: each data file. Unmatched data
    file -> warning + empty ids (cmd/cli/main.go:324-332). Meta without
    data_filename -> skipped with warning (cmd/cli/main.go:280-283).
    """
    by_data_path: dict[str, tuple[str, str]] = {}
    for meta_path in meta_files:
        try:
            study, stable_id, data_filename = parse_meta_file(meta_path)
        except OSError as exc:  # unreadable/undecodable meta: warn + skip
            # (cmd/cli/main.go:276 logs and continues the walk)
            logger.warning("failed to extract metadata from %s: %s", meta_path, exc)
            continue
        except UnicodeDecodeError as exc:
            logger.warning("failed to extract metadata from %s: %s", meta_path, exc)
            continue
        if not data_filename:
            logger.warning("meta file %s has no data_filename; skipping", meta_path)
            continue
        key = os.path.join(os.path.dirname(meta_path), data_filename)
        # profile id only when BOTH parts present (cmd/cli/main.go:335)
        profile = f"{study}_{stable_id}" if study and stable_id else ""
        by_data_path[key] = (study, profile)

    inputs = []
    for data_path in data_files:  # sorted => deterministic manifest order
        study, profile = by_data_path.get(data_path, ("", ""))
        if data_path not in by_data_path:
            logger.warning(
                "data file %s has no matching meta file; "
                "processing with empty study/profile ids",
                data_path,
            )
        inputs.append(make_input(data_path, study, profile))
    return inputs


def discover_cna_files(root_dir: str) -> list[CNAFileInput]:
    """findCNAFiles parity (cmd/cli/main.go:239-349)."""
    meta_files, data_files = _walk_classify(
        root_dir, _META_CNA_RE, _DATA_CNA_RE, exclude_substr="seg"
    )
    return _pair(meta_files, data_files, CNAFileInput)


def discover_mutation_files(root_dir: str) -> list[MutationFileInput]:
    """findMutationFiles parity (cmd/cli/main.go:426-536)."""
    meta_files, data_files = _walk_classify(
        root_dir, _META_MUT_RE, _DATA_MUT_RE, exclude_substr=None
    )
    return _pair(meta_files, data_files, MutationFileInput)
