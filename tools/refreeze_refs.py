#!/usr/bin/env python3
"""Refreeze BenchRefs rows from a bench artifact (r18 refreeze protocol).

Usage: tools/refreeze_refs.py <artifact.json> <face>[,<face>...] [--sf sf1|sf10]

Patches, IN PLACE, the named faces' rows in src/main/scala/graft/BenchRefs.scala:
  - default: the sf0.1 `refs` table (warm median, cpu_frac);
  - with --sf: only the named sfRefs sub-table's (median, cpu_frac) rows.

Refuses artifacts whose quality block reads run_class "dirty" (or, for
pre-run_class artifacts, cpu_collapse_frac > 0.08) unless --force: the
refreeze protocol only ever feeds from quiet-class runs. NOTE the caveat
documented at Bench.runClass: right after a plan change that legitimately
lowers a face's parallelism, collapse is measured against the STALE refs —
pass --force only with A/B evidence cited in the commit message.
"""
import json
import re
import sys

def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    force = "--force" in sys.argv
    sf = None
    if "--sf" in sys.argv:
        sf = sys.argv[sys.argv.index("--sf") + 1]
    artifact_path, faces_arg = args[0], args[1]
    faces = [f for f in faces_arg.split(",") if f]
    art = json.load(open(artifact_path))
    q = art["queries"]
    cpu = art.get("queries_cpu_frac", {})
    quality = art.get("quality", {})
    rc = quality.get("run_class") or (
        "dirty" if quality.get("cpu_collapse_frac", 0.0) > 0.08 else "quiet")
    if rc == "dirty" and not force:
        sys.exit(f"refusing dirty-class artifact {artifact_path} "
                 f"(cpu_collapse_frac={quality.get('cpu_collapse_frac')}); "
                 "use --force only with A/B evidence")
    path = "src/main/scala/graft/BenchRefs.scala"
    src = open(path).read()
    missing = [f for f in faces if f not in q or q[f] is None]
    if missing:
        sys.exit(f"faces absent/failed in artifact: {missing}")

    def patch_tuple(text, face, new_tuple, start, end):
        pat = re.compile(r'("%s" -> \(\()[^)]*(\)\))' % re.escape(face))
        region = text[start:end]
        m = pat.search(region)
        if not m:
            sys.exit(f"no row for {face} in target table")
        region = region[:m.start()] + f'"{face}" -> (({new_tuple}))' + region[m.end():]
        return text[:start] + region + text[end:]

    refs_marker = "val refs: Map[String, (Double, Double)]"
    if sf:
        s = src.index(f'"{sf}" -> Map(')
        # end of this sub-table: the next sub-table header or the refs val
        candidates = [i for i in (src.find('" -> Map(', s + 10),
                                  src.find(refs_marker, s)) if i != -1]
        e = min(candidates) if candidates else len(src)
        for f in faces:
            src2 = src
            src = patch_tuple(src, f, f"{q[f]:.2f}, {cpu.get(f, 0.0)}", s, e)
            e += len(src) - len(src2)
    else:
        for f in faces:
            src = patch_tuple(src, f, f"{q[f]:.3f}, {cpu.get(f, 0.0)}",
                              src.index(refs_marker), len(src))
    open(path, "w").write(src)
    print(f"[refreeze] patched {len(faces)} rows "
          f"({'sfRefs ' + sf if sf else 'refs'}) from {artifact_path} "
          f"(run_class={rc})")

if __name__ == "__main__":
    main()
