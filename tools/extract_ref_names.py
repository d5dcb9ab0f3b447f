#!/usr/bin/env python3
"""Builder-aware extraction of the reference WarpScript registry
(driver-side tooling, not part of the engine).

Resolves every live registration form in WarpScriptLib.java:
  - addNamedWarpScriptFunction(new X(CONST, ...)) where CONST is a
    `public static final String NAME = "..."` in the same file
  - addNamedWarpScriptFunction(new X("literal", ...))
  - addNamedWarpScriptFunction(new X.Builder("literal"|CONST, ...))
  - functions.put("literal"|CONST, ...)
Comments are stripped FIRST — the reference keeps two registrations
commented out (DUMP at :2211, mapper.abscissa at :2772) which a naive
grep counts as live; the round-6 "1069/1070" claim came from an
extractor that missed the Builder forms, and the first round-7 rerun
over-counted by including these comments. The POPR/CPOPR/PUSHR/RUNR
register loop (`POPR + i`, :3390) is config-dependent and excluded,
matching the engine's numbered-register dispatch.

Usage: python3 tools/extract_ref_names.py [out]   (default /tmp/ref_names.txt)
Then compare the set against FUNCTIONS, the engine's word-table keys:
every reference name must be among them. From the repo root:

    sbt -error console <<'EOF'
    val fs = { new graft.script.WarpScriptEngine((_, _, _, _) => ???)
      .run("'inventory=1' CAPADD FUNCTIONS").head
      .asInstanceOf[Vector[Any]].map(_.toString).toSet }
    println("MISSING: " + scala.io.Source.fromFile("/tmp/ref_names.txt")
      .getLines().filter(_.nonEmpty).filterNot(fs).mkString(" "))
    EOF
"""
import re
import sys

SRC = "/root/reference/warp10/src/main/java/io/warp10/script/WarpScriptLib.java"

src = open(SRC).read()
src = re.sub(r'/\*.*?\*/', '', src, flags=re.S)
src = re.sub(r'//[^\n]*', '', src)

const = dict(re.findall(
    r'public static final String (\w+)\s*=\s*"((?:[^"\\]|\\.)*)"', src))

names = set()
unresolved = []
for m in re.finditer(
        r'addNamedWarpScriptFunction\(\s*new\s+[\w.]+\s*\(\s*([^,)]+)', src):
    a = m.group(1).strip()
    if a.startswith('"'):
        names.add(re.match(r'"((?:[^"\\]|\\.)*)"', a).group(1))
    elif a in const:
        names.add(const[a])
    elif not re.match(r'(POPR|CPOPR|PUSHR|RUNR) \+ i', a):
        unresolved.append(a)
for m in re.finditer(r'functions\.put\(\s*([^,)]+)', src):
    a = m.group(1).strip()
    if a.startswith('"'):
        names.add(re.match(r'"((?:[^"\\]|\\.)*)"', a).group(1))
    elif a in const:
        names.add(const[a])
    elif 'namedFunction' not in a and 'namespace' not in a:
        unresolved.append(a)

if unresolved:
    print("UNRESOLVED:", unresolved, file=sys.stderr)
out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/ref_names.txt"
with open(out, "w") as f:
    f.write("\n".join(sorted(names)) + "\n")
print(f"{len(names)} names -> {out}", file=sys.stderr)
