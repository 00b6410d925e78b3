#!/usr/bin/env python3
"""Which public members of the compiled engine does no entry point reach?

Reads `javap -c -p -v` of every class under the engine's class directory
(`sbt compile` output) and walks the call graph from the engine's entry
points:

- `graft.SparkEntry` (the registry's queries and oracles);
- every class in `graft.jobs` and `graft.streaming`;
- `graft.GraftExtensions` (named in the session conf; what it registers is
  followed from its code);
- every `main` (Bench, Verify, VerifyOne, StatsProbe, RegistryDoc, ...);
- what the benchmark harness calls beyond those: `Sinks.createOrReplaceExternal`.

The walk follows:

- method calls, with or without an owner (javap prints same-class
  references bare);
- lambda bodies, through the class's `BootstrapMethods` handles;
- static field reads (`MODULE$` initializes a Scala object, and with it
  every `val` initializer of that object);
- field reads and writes, which keep the field's accessor method;
- virtual and interface calls, dispatched by class hierarchy to the
  engine's own subtypes only (dispatching by name alone marks almost
  everything live);
- string constants that name an engine class (confs and Scala type tags
  load classes by name) or the short name of a registered data source.

A class that extends a type from outside the engine (a Spark expression, a
listener, a Scala function) is called from outside: once it is
instantiated, all its methods count as reached. Case classes count the same
way, since encoders call their accessors by reflection.

Test code is not a root: a member that only a spec calls is unreached.
Members on the keep list (`tools/reachability_keep.txt`, one line each:
member, the spec that needs it, the reason) are allowed to stay unreached.

Usage: tools/reachability.py [--classes DIR] [--keep FILE] [--check MEMBER ...]
  --classes  compiled engine classes (default target/scala-2.13/classes)
  --keep     keep list (default tools/reachability_keep.txt)
  --check    print reached/unreached for each named member, public or
             not (e.g. graft.registry.RegistryText.bpeOracleSql), with the
             call path that reaches it, and exit

Exits 1 when an unreached public member is missing from the keep list, or
a keep-list line names no spec under src/test that uses the member.
Private helpers are the compiler's job (`-Wunused:privates`).
"""
import argparse
import os
import re
import subprocess
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ROOT_PACKAGES = ("graft/jobs/", "graft/streaming/")
ROOT_CLASSES = ("graft/SparkEntry", "graft/SparkEntry$", "graft/GraftExtensions")
ROOT_METHODS = (("graft/sources/Sinks$", "createOrReplaceExternal"),)
MAIN_DESC = "([Ljava/lang/String;)V"

# Supertypes that do not make a class callable from outside the engine.
MARKER_TYPES = {"java/lang/Object", "java/io/Serializable", "scala/Serializable",
                "scala/Equals"}
# Names the JVM, the Scala runtime or the compiler call or generate.
NEVER_REPORTED = {"<init>", "<clinit>", "toString", "equals", "hashCode", "main",
                  "apply", "unapply", "readResolve", "writeReplace"}
CASE_CLASS_SYNTHETICS = {"copy", "productArity", "productElement", "productPrefix",
                         "productIterator", "productElementName",
                         "productElementNames", "canEqual"}
ANONYMOUS = re.compile(r"\$anon|\$\$anonfun|\$typecreator|\$\$Lambda")

INSN = re.compile(r"^\s+\d+: (\w+)[^/]*?(?://\s*(\w+)\s+(.*))?$")
QUALIFIED = re.compile(r"[A-Za-z_][\w$]*(?:\.[A-Za-z_][\w$]*)+")
CONSTANT_PUSH = re.compile(r"^(ldc\w*|[ilfd]const_\w+|[bs]ipush|aconst_null)$")
MEMBER = re.compile(r"^  (?! )(.*);$")
HANDLE = re.compile(r"REF_(\w+) (\S+)")


class Klass:
    def __init__(self):
        self.name = None
        self.decl = ""
        self.super = None
        self.interfaces = []
        self.fields = set()
        self.methods = {}       # (name, desc) -> {"flags": [...], "code": [...]}
        self.bootstraps = []    # index -> [(kind, ref)]


def strip_generics(s):
    out, depth = [], 0
    for ch in s:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        elif depth == 0:
            out.append(ch)
    return "".join(out)


def parse_decl(k):
    d = strip_generics(k.decl).strip().rstrip("{").strip()
    interface = re.search(r"\binterface\b", d) is not None
    m = re.search(r"\bimplements\s+(.*)$", d)
    names = m.group(1) if m else ""
    if interface:
        m = re.search(r"\bextends\s+(.*)$", d)
        names = m.group(1) if m else ""
    k.interfaces = [n.strip().replace(".", "/") for n in names.split(",") if n.strip()]


def parse_javap(text, classes):
    k = None
    section = None
    member = None
    for line in text.splitlines():
        if line.startswith("Classfile "):
            k = Klass()
            section = "head"
            continue
        if k is None:
            continue
        if section == "head":
            if not line.startswith(" ") and ("class " in line or "interface " in line):
                k.decl = line
            elif line.startswith("  this_class:"):
                k.name = line.split("//")[1].strip()
            elif line.startswith("  super_class:"):
                k.super = line.split("//")[1].strip()
            elif line == "{":
                parse_decl(k)
                classes[k.name] = k
                section = "body"
            continue
        if section == "body":
            if line == "}":
                section = "tail"
                member = None
                continue
            m = MEMBER.match(line)
            if m:
                member = {"sig": m.group(1), "flags": [], "code": [], "desc": None}
                continue
            if member is None:
                continue
            s = line.strip()
            if s.startswith("descriptor:"):
                member["desc"] = s.split(":", 1)[1].strip()
                sig = member["sig"]
                if member["desc"].startswith("("):
                    if sig.endswith("static {}"):
                        name = "<clinit>"
                    elif (k.name.replace("/", ".") + "(") in sig:
                        name = "<init>"
                    else:
                        name = re.search(r"([\w$]+)\(", sig).group(1)
                    k.methods[(name, member["desc"])] = member
                else:
                    k.fields.add(sig.split()[-1])
            elif s.startswith("flags:"):
                member["flags"] = re.findall(r"ACC_\w+", s)
            else:
                mi = INSN.match(line)
                if mi:
                    member["code"].append((mi.group(1), mi.group(2) or "",
                                           (mi.group(3) or "").strip()))
            continue
        if section == "tail":
            if line.startswith("BootstrapMethods:"):
                section = "bootstrap"
            continue
        if section == "bootstrap":
            if re.match(r"^  \d+: ", line):
                k.bootstraps.append([])
            elif line.startswith("      #") and k.bootstraps:
                h = HANDLE.search(line)
                if h:
                    k.bootstraps[-1].append((h.group(1), h.group(2)))
            elif line and not line.startswith(" "):
                section = "tail"


def load(class_dir):
    files = []
    for base, _, names in os.walk(class_dir):
        files += [os.path.join(base, n) for n in names if n.endswith(".class")]
    classes = {}
    files.sort()
    for i in range(0, len(files), 150):
        out = subprocess.run(["javap", "-c", "-p", "-v"] + files[i:i + 150],
                             capture_output=True, text=True, check=True).stdout
        parse_javap(out, classes)
    return classes


def split_ref(ref, here):
    """`owner.name:desc` or `name:desc` -> (owner, name, desc)."""
    head, desc = ref.split(":", 1)
    if "." in head:
        owner, name = head.rsplit(".", 1)
    else:
        owner, name = here, head
    return owner.strip('"'), name.strip('"'), desc


def source_name(internal):
    return internal.rstrip("$").replace("/", ".").replace("$", ".")


def is_constant(k, name, m):
    """A `final val` with a literal value: scalac inlines it at every use,
    so no reference to it survives in the bytecode. It compiles to a final
    accessor that pushes the literal, with no backing field."""
    ops = [op for op, _, _ in m["code"]]
    return ("ACC_FINAL" in m["flags"] and "ACC_STATIC" not in m["flags"]
            and "$" not in name and name not in NEVER_REPORTED and name not in k.fields
            and m["desc"].startswith("()") and len(ops) == 2
            and CONSTANT_PUSH.match(ops[0]) is not None and ops[1].endswith("return"))


class Walk:
    def __init__(self, classes, class_dir):
        self.classes = classes
        self.reached = set()        # (class, name, desc)
        self.initialized = set()
        self.instantiated = set()
        self.work = []
        self.parent = {}            # reached key -> the key whose code reached it
        self.current = None
        self.subtypes = defaultdict(set)
        for c, k in classes.items():
            for s in [k.super] + k.interfaces:
                self.subtypes[s].add(c)
        self.by_source_name = {}
        for c in classes:
            self.by_source_name[c.replace("/", ".")] = c
            self.by_source_name.setdefault(source_name(c), c)
        self.short_names = self.data_source_short_names(class_dir)

    def data_source_short_names(self, class_dir):
        """Short name -> provider class, for the providers the engine
        registers (the build copies the services file next to the classes)."""
        out = {}
        services = os.path.join(class_dir, "META-INF/services",
                                "org.apache.spark.sql.sources.DataSourceRegister")
        if not os.path.exists(services):
            return out
        for line in open(services):
            c = line.split("#")[0].strip().replace(".", "/")
            k = self.classes.get(c)
            if not k:
                continue
            for (n, d), m in k.methods.items():
                if n == "shortName":
                    for op, kind, arg in m["code"]:
                        if kind == "String":
                            out[arg] = c
        return out

    def ancestors(self, c):
        seen, todo = [], [c]
        while todo:
            x = todo.pop()
            if x in seen:
                continue
            seen.append(x)
            k = self.classes.get(x)
            if k:
                todo += [s for s in [k.super] + k.interfaces if s]
        return seen

    def called_from_outside(self, c):
        return any(a not in self.classes and a not in MARKER_TYPES
                   for a in self.ancestors(c))

    def add(self, key):
        if key not in self.reached:
            self.reached.add(key)
            self.parent[key] = self.current
            self.work.append(key)

    def resolve(self, owner, name, desc):
        """The definition a call on `owner` binds to, searching up the hierarchy."""
        for a in self.ancestors(owner):
            k = self.classes.get(a)
            if k and (name, desc) in k.methods:
                self.add((a, name, desc))
                return True
        return False

    def dispatch(self, owner, name, desc):
        """A virtual call. On a type from outside the engine (`Object.equals`,
        `Function1.apply`) it dispatches nowhere: engine classes that
        extend such types are live whole once instantiated."""
        if owner not in self.classes:
            return
        self.resolve(owner, name, desc)
        todo, seen = [owner], set()
        while todo:
            x = todo.pop()
            for s in self.subtypes.get(x, ()):
                if s in seen:
                    continue
                seen.add(s)
                todo.append(s)
                if (name, desc) in self.classes[s].methods:
                    self.add((s, name, desc))

    def init(self, c):
        if c not in self.classes or c in self.initialized:
            return
        self.initialized.add(c)
        k = self.classes[c]
        if k.super:
            self.init(k.super)
        for (n, d) in k.methods:
            if n == "<clinit>":
                self.add((c, n, d))

    def instantiate(self, c):
        if c not in self.classes:
            return
        self.init(c)
        if c in self.instantiated:
            return
        self.instantiated.add(c)
        if self.called_from_outside(c):
            for a in self.ancestors(c):
                for (n, d), m in self.classes.get(a, Klass()).methods.items():
                    if "ACC_STATIC" not in m["flags"]:
                        self.add((a, n, d))
        else:
            for n in ("toString", "equals", "hashCode"):
                for (mn, d) in self.classes[c].methods:
                    if mn == n:
                        self.add((c, mn, d))

    def accessor(self, owner, field):
        for a in self.ancestors(owner):
            for (n, d) in self.classes.get(a, Klass()).methods:
                if n == field and d.startswith("()"):
                    self.add((a, n, d))

    def by_name(self, s):
        """A string constant: a class loaded by name, a data source's short
        name, or generated Java source calling `Owner.method(` by name."""
        if s in self.short_names:
            self.instantiate(self.short_names[s])
        for token in QUALIFIED.findall(s):
            parts = token.split(".")
            for i in range(len(parts), 1, -1):
                c = self.by_source_name.get(".".join(parts[:i]))
                if not c:
                    continue
                self.instantiate(c)
                for owner in (c, c + "$"):
                    self.init(owner)
                    if i < len(parts):
                        for (n, d) in self.classes.get(owner, Klass()).methods:
                            if n == parts[i]:
                                self.add((owner, n, d))
                break

    def visit(self, key):
        c, name, desc = key
        k = self.classes[c]
        m = k.methods[(name, desc)]
        for op, kind, arg in m["code"]:
            if kind in ("Method", "InterfaceMethod"):
                o, n, d = split_ref(arg, c)
                if op == "invokestatic":
                    self.init(o)
                    self.resolve(o, n, d)
                elif op == "invokespecial":
                    if n == "<init>" and not (name == "<init>" and o in (k.super, c)):
                        self.instantiate(o)
                    self.resolve(o, n, d)
                else:
                    self.dispatch(o, n, d)
            elif kind == "Field":
                o, n, d = split_ref(arg, c)
                if op in ("getstatic", "putstatic"):
                    self.init(o)
                self.accessor(o, n)
            elif kind == "class":
                o = arg.strip('"').lstrip("[")
                if o.startswith("L") and o.endswith(";"):
                    o = o[1:-1]
                if op == "ldc":
                    self.instantiate(o)
                else:
                    self.init(o)
                    if op in ("checkcast", "instanceof") and self.is_case_class(o):
                        self.instantiate(o)
            elif kind == "String":
                self.by_name(arg)
            elif kind == "InvokeDynamic":
                idx = int(arg.split(":")[0].lstrip("#"))
                for hk, ref in k.bootstraps[idx]:
                    o, n, d = split_ref(ref, c)
                    if hk == "newInvokeSpecial":
                        self.instantiate(o)
                        self.resolve(o, n, d)
                    elif hk in ("invokeVirtual", "invokeInterface"):
                        self.dispatch(o, n, d)
                    else:
                        self.init(o)
                        self.resolve(o, n, d)
        # A value class's methods run as `name$extension` on its companion.
        if name.endswith("$extension") and c.endswith("$"):
            base = name[: -len("$extension")]
            for (n, d) in self.classes.get(c[:-1], Klass()).methods:
                if n == base:
                    self.add((c[:-1], n, d))

    def is_case_class(self, c):
        return "scala/Product" in self.ancestors(c)

    def run(self):
        for c, k in self.classes.items():
            for (n, d), m in k.methods.items():
                if is_constant(k, n, m):
                    self.add((c, n, d))
            whole = c in ROOT_CLASSES or c.startswith(ROOT_PACKAGES)
            if whole:
                self.instantiate(c)
            for (n, d) in k.methods:
                if whole or (n == "main" and d == MAIN_DESC) or (c, n) in ROOT_METHODS:
                    self.init(c)
                    self.add((c, n, d))
        while self.work:
            self.current = self.work.pop()
            self.visit(self.current)

    def path(self, key):
        out = []
        while key is not None:
            out.append(f"{source_name(key[0])}.{key[1]}")
            key = self.parent.get(key)
        return out


def public_members(classes):
    """(source member, class, name, desc) for each reportable public method."""
    out = []
    for c, k in classes.items():
        if ANONYMOUS.search(c):
            continue
        case = "scala/Product" in ([k.super] + k.interfaces)
        companion_of_case = c.endswith("$") and c[:-1] in classes and \
            "scala/Product" in classes[c[:-1]].interfaces
        for (n, d), m in k.methods.items():
            f = m["flags"]
            if "ACC_PUBLIC" not in f or "ACC_SYNTHETIC" in f or "ACC_BRIDGE" in f:
                continue
            if "$" in n or n in NEVER_REPORTED:
                continue
            if "ACC_STATIC" in f and c + "$" in classes:
                continue  # static forwarder of the companion object
            if case and (n in CASE_CLASS_SYNTHETICS or n in k.fields):
                continue
            if companion_of_case and n in ("apply", "unapply"):
                continue
            out.append((source_name(c) + "." + n, c, n, d))
    return out


def read_keep(path):
    keep, bad = {}, []
    if not os.path.exists(path):
        return keep, bad
    specs = {}
    for base, _, names in os.walk(os.path.join(ROOT, "src/test")):
        specs.update({os.path.splitext(n)[0]: os.path.join(base, n)
                      for n in names if n.endswith(".scala")})
    for i, line in enumerate(open(path), 1):
        line = line.split("#")[0].strip()
        if not line:
            continue
        parts = line.split(None, 2)
        member = parts[0]
        spec = specs.get(parts[1]) if len(parts) == 3 else None
        if spec is None or member.rsplit(".", 1)[-1] not in open(spec).read():
            bad.append(f"{path}:{i}: needs '<member> <Spec> <reason>', "
                       "with a spec under src/test that uses the member")
            continue
        keep[member] = parts[1]
    return keep, bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--classes", default=os.path.join(ROOT, "target/scala-2.13/classes"))
    ap.add_argument("--keep", default=os.path.join(ROOT, "tools/reachability_keep.txt"))
    ap.add_argument("--check", nargs="+")
    a = ap.parse_args()

    classes = load(a.classes)
    w = Walk(classes, a.classes)
    w.run()

    if a.check:
        for member in a.check:
            found = [(c, n, d) for c in classes for (n, d) in classes[c].methods
                     if source_name(c) + "." + n == member or source_name(c) == member]
            if not found:
                print(f"{member}: not found")
                continue
            live = [key for key in found if key in w.reached]
            print(f"{member}: {'reached' if live else 'UNREACHED'}")
            if live:
                print("  via " + " <- ".join(w.path(live[0])[1:]))
        return 0

    members = public_members(classes)
    by_member = defaultdict(list)
    for member, c, n, d in members:
        by_member[member].append((c, n, d))
    entities = defaultdict(list)
    for c in classes:
        if not ANONYMOUS.search(c):
            entities[source_name(c)].append(c)
    unreached_classes = sorted(
        e for e, cs in entities.items()
        if not any(c in w.initialized or c in w.instantiated for c in cs)
        and not any((c, n, d) in w.reached for c in cs for (n, d) in classes[c].methods))
    dead_class = set(unreached_classes)
    unreached = []
    for member, keys in sorted(by_member.items()):
        owner = member.rsplit(".", 1)[0]
        if owner in dead_class:
            continue
        missed = [k for k in keys if k not in w.reached]
        if not missed:
            continue
        if len(missed) < len(keys):
            unreached += [f"{member}{d}" for (_, _, d) in missed]
        else:
            unreached.append(member)

    keep, bad = read_keep(a.keep)
    def kept(item):
        return item in keep or item.split("(")[0] in keep
    report = [u for u in unreached_classes + unreached if not kept(u)]
    kept_items = [u for u in unreached_classes + unreached if kept(u)]

    n_public = len(by_member)
    print(f"reachability: {len(classes)} classes, {n_public} public members, "
          f"{len(w.reached)} methods reached")
    for u in unreached_classes:
        if not kept(u):
            print(f"UNREACHED class  {u}")
    for u in unreached:
        if not kept(u):
            print(f"UNREACHED member {u}")
    for u in kept_items:
        print(f"kept             {u}  ({keep.get(u) or keep.get(u.split('(')[0])})")
    for k in sorted(keep):
        if not any(u == k or u.split("(")[0] == k for u in kept_items):
            print(f"note: keep-list entry {k} is reached or gone")
    for b in bad:
        print(f"BAD KEEP LINE {b}")
    print(f"reachability: {len(report)} unreached public members outside the keep list, "
          f"{len(kept_items)} kept")
    return 1 if report or bad else 0


if __name__ == "__main__":
    sys.exit(main())
