"""Query -> module grouping: the package of the function a
`SparkEntry.queries` entry calls first, read from the entry's source."""
import re

MODULES = ("analytics", "operators", "cdc", "dedup", "similarity", "text", "multimodal")

_ENTRY = re.compile(r'^\s*"(?P<name>[A-Za-z0-9_]+)"\s*->\s*\(\(\w+,\s*\w+\)\s*=>(?P<body>.*)$')
_CALL = re.compile(r"((?:[a-z_][a-z0-9_]*\.)*)([A-Z][A-Za-z0-9_]*)\.[a-z][A-Za-z0-9_]*\s*\(")
_IMPORT = re.compile(r"^import\s+graft\.(?:(?P<pkg>[a-z_.]+)\.)?(?:\{(?P<many>[^}]*)\}|(?P<one>[A-Z]\w*))")


def imported_objects(source):
    """{object name: graft sub-package} from `import graft.<pkg>.X` lines."""
    out = {}
    for line in source.splitlines():
        m = _IMPORT.match(line.strip())
        if not m or not m.group("pkg"):
            continue
        names = m.group("many") or m.group("one")
        for n in names.split(","):
            n = n.strip().split("=>")[0].strip()
            if n:
                out[n] = m.group("pkg").split(".")[0]
    return out


def entry_bodies(source):
    """{query name: the code of its entry up to the next entry}."""
    bodies, current = {}, None
    for line in source.splitlines():
        m = _ENTRY.match(line)
        if m:
            current = m.group("name")
            bodies[current] = m.group("body")
        elif current is not None:
            if line.strip().startswith(("def ", "}", ")")) and not line.strip().startswith(")."):
                current = None
            else:
                bodies[current] += "\n" + line
    return bodies


def module_of(body, imports):
    """Module of the first graft object called in an entry body."""
    for m in _CALL.finditer(body):
        qualifier, obj = m.group(1), m.group(2)
        if qualifier.startswith("graft."):
            return qualifier.split(".")[1]
        if not qualifier and obj in imports:
            return imports[obj]
    return None


def group_queries(source, names):
    """{query: module} for the named queries; a query whose module is not
    found maps to None."""
    imports = imported_objects(source)
    bodies = entry_bodies(source)
    return {n: module_of(bodies.get(n, ""), imports) for n in names}
