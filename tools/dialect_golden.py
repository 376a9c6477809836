"""Golden digests of the MySQL dialect front end over every registered script.

Per ``_SPECS`` entry of ``stonedb_spark.queries.dialect`` it records the
sha256 of the ``split_mtr`` output (each statement's text and
expect_error) and of the ``build_oracle_sql`` text, or of the error that
raised.  Per distinct script it also records the sha256 of
``rewrite_expr(stmt.text, engine)`` for ``spark`` and ``duck`` over
every split statement (a raised error is digested in place of the text).

A change to the front end that means to keep its output writes the
digests before and checks them after:

    python tools/dialect_golden.py --write /tmp/golden.json
    python tools/dialect_golden.py --check /tmp/golden.json

``--check`` lists every differing entry and exits 1 when there is one.
Needs no Spark session and no MySQL test-suite checkout: an oracle whose
``LOAD DATA`` fixture is missing digests its ``FileNotFoundError``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stonedb_spark.dialect import (  # noqa: E402
    build_oracle_sql,
    rewrite_expr,
    split_mtr,
)
from stonedb_spark.queries.dialect import _SPECS  # noqa: E402


def _digest(fn, *args, **kwargs) -> str:
    try:
        out = repr(fn(*args, **kwargs))
    except Exception as e:  # the error is part of the output
        out = f"{type(e).__name__}: {e}"
    return hashlib.sha256(out.encode("utf-8", "surrogatepass")).hexdigest()


def _split(script: str) -> list[tuple[str, bool]]:
    return [(st.text, st.expect_error) for st in split_mtr(script)]


def _rewrites(script: str, engine: str) -> list[str]:
    out = []
    for st in split_mtr(script):
        try:
            out.append(rewrite_expr(st.text, engine))
        except Exception as e:
            out.append(f"{type(e).__name__}: {e}")
    return out


def golden() -> dict:
    specs, scripts = {}, {}
    for name, script, desig, names, isc, _doc, *extra in _SPECS:
        fc = extra[0] if extra else None
        opts = extra[1] if len(extra) > 1 else {}
        specs[name] = {
            "split": _digest(_split, script),
            "oracle": _digest(
                build_oracle_sql, script, desig, names, int_sum_cast=isc,
                final_casts=fc, show_designated=opts.get("show"),
                zerodate_render=opts.get("zd"),
            ),
        }
        key = hashlib.sha256(script.encode()).hexdigest()
        if key not in scripts:
            scripts[key] = {
                "first_spec": name,
                "spark": _digest(_rewrites, script, "spark"),
                "duck": _digest(_rewrites, script, "duck"),
            }
    return {"specs": specs, "scripts": scripts}


def _diff(old: dict, new: dict) -> list[str]:
    out = []
    for section in ("specs", "scripts"):
        a, b = old.get(section, {}), new.get(section, {})
        for key in sorted(a.keys() | b.keys()):
            if a.get(key) == b.get(key):
                continue
            ea, eb = a.get(key) or {}, b.get(key) or {}
            what = sorted(k for k in ea.keys() | eb.keys()
                          if ea.get(k) != eb.get(k))
            label = eb.get("first_spec") or ea.get("first_spec") or key
            out.append(f"{section} {label}: {', '.join(what)}")
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--write", metavar="FILE")
    mode.add_argument("--check", metavar="FILE")
    args = ap.parse_args(argv)
    now = golden()
    if args.write:
        with open(args.write, "w") as f:
            json.dump(now, f, indent=1, sort_keys=True)
        print(f"{len(now['specs'])} specs, {len(now['scripts'])} scripts "
              f"-> {args.write}")
        return 0
    with open(args.check) as f:
        diffs = _diff(json.load(f), now)
    for line in diffs:
        print(line)
    print(f"{len(diffs)} differing of {len(now['specs'])} specs + "
          f"{len(now['scripts'])} scripts")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main())
