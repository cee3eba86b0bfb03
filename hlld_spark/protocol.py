"""Text command protocol: byte-exact responses of the reference daemon.

``handle_command(line) -> str`` parses one ASCII command line exactly as
the reference's conn handler does (verb match table
src/conn_handler.c:603-659, arg splitting :472-487, option parsing
:244-295) and returns the exact response bytes the reference's integ
suite asserts on (handler_constants.c):

    Done\\n | Exists\\n | Delete in progress\\n | Set does not exist\\n |
    Set is not proxied. Close it first.\\n | Client Error: <msg>\\n |
    START\\n ... END\\n   (list / info blocks)

This adapter turns the distributed registry into a drop-in semantic
replacement: anything scripted against hlld's wire protocol gets the
same responses. (No TCP server is started here — the daemon's socket
machinery is environment plumbing, not semantics; see
tests/test_protocol.py, which mirrors integ/test_integ.py line-for-line
against this handler.)
"""

from __future__ import annotations

from .registry import (
    DONE,
    NOT_PROXIED,
    SET_NOT_FOUND,
    HlldError,
    SketchRegistry,
)

_CLIENT_ERR = "Client Error: "
_CMD_NOT_SUP = "Command not supported"
_BAD_ARGS = "Bad arguments"
_UNEXPECTED_ARGS = "Unexpected arguments"
_SET_KEY_NEEDED = "Must provide set name and key"
_SET_NEEDED = "Must provide set name"
_BAD_SET_NAME = "Bad set name"


class CommandHandler:
    def __init__(self, registry: SketchRegistry):
        self.reg = registry

    # -- public ----------------------------------------------------------------

    def handle_command(self, line: str) -> str:
        line = line.rstrip("\n")
        if line.endswith("\r"):
            line = line[:-1]
        if not line:
            return f"{_CLIENT_ERR}{_CMD_NOT_SUP}\n"
        parts = line.split(" ", 1)
        cmd = parts[0]
        args = parts[1] if len(parts) > 1 else None
        if cmd in ("b", "bulk"):
            return self._set_multi(args)
        if cmd == "create":
            return self._create(args)
        if cmd == "close":
            return self._setop(args, self.reg.close)
        if cmd == "clear":
            return self._setop(args, self.reg.clear)
        if cmd == "drop":
            return self._setop(args, self.reg.drop)
        if cmd == "flush":
            return self._flush(args)
        if cmd == "info":
            return self._info(args)
        if cmd == "list":
            return self._list(args)
        if cmd in ("s", "set"):
            return self._set(args)
        return f"{_CLIENT_ERR}{_CMD_NOT_SUP}\n"

    # -- commands ----------------------------------------------------------------

    def _create(self, args: str | None) -> str:
        if not args:
            return f"{_CLIENT_ERR}{_SET_NEEDED}\n"
        fields = args.split(" ")
        name = fields[0]
        options: list[tuple[str, object]] = []
        # option parsing mirrors src/conn_handler.c:244-295: wire order
        # preserved (each option re-derives the coupled precision/eps
        # pair in the registry; last one wins)
        for opt in fields[1:]:
            if not opt:
                continue
            if opt.startswith("precision="):
                try:
                    options.append(("precision", int(opt[len("precision=") :])))
                except ValueError:
                    return f"{_CLIENT_ERR}{_BAD_ARGS}\n"
            elif opt.startswith("eps="):
                try:
                    options.append(("eps", float(opt[len("eps=") :])))
                except ValueError:
                    return f"{_CLIENT_ERR}{_BAD_ARGS}\n"
            elif opt.startswith("in_memory="):
                try:
                    options.append(("in_memory", int(opt[len("in_memory=") :])))
                except ValueError:
                    return f"{_CLIENT_ERR}{_BAD_ARGS}\n"
            else:
                return f"{_CLIENT_ERR}{_BAD_ARGS}\n"
        try:
            res = self.reg.create(name, options=options)
        except HlldError as e:
            msg = str(e)
            if "Bad set name" in msg:
                return f"{_CLIENT_ERR}{_BAD_SET_NAME}\n"
            return f"{_CLIENT_ERR}{_BAD_ARGS}\n"
        return f"{res}\n"

    def _set(self, args: str | None) -> str:
        if not args or " " not in args:
            return f"{_CLIENT_ERR}{_SET_KEY_NEEDED}\n"
        name, key = args.split(" ", 1)
        if not key:
            return f"{_CLIENT_ERR}{_SET_KEY_NEEDED}\n"
        return self._guarded(lambda: self.reg.set(name, key))

    def _set_multi(self, args: str | None) -> str:
        if not args or " " not in args:
            return f"{_CLIENT_ERR}{_SET_KEY_NEEDED}\n"
        name, rest = args.split(" ", 1)
        keys = [k for k in rest.split(" ") if k]
        if not keys:
            return f"{_CLIENT_ERR}{_SET_KEY_NEEDED}\n"
        return self._guarded(lambda: self.reg.bulk(name, keys))

    def _setop(self, args: str | None, fn) -> str:
        if not args:
            return f"{_CLIENT_ERR}{_SET_NEEDED}\n"
        if " " in args:
            return f"{_CLIENT_ERR}{_UNEXPECTED_ARGS}\n"
        return self._guarded(lambda: fn(args))

    def _flush(self, args: str | None) -> str:
        if args:
            return self._setop(args, self.reg.flush)
        self.reg.flush()
        return f"{DONE}\n"

    def _info(self, args: str | None) -> str:
        if not args:
            return f"{_CLIENT_ERR}{_SET_NEEDED}\n"
        if " " in args:
            return f"{_CLIENT_ERR}{_UNEXPECTED_ARGS}\n"
        try:
            i = self.reg.info(args)
        except HlldError:
            return f"{SET_NOT_FOUND}\n"
        # exact block format: src/conn_handler.c:454-468
        body = (
            f"in_memory {i['in_memory']}\n"
            f"page_ins {i['page_ins']}\n"
            f"page_outs {i['page_outs']}\n"
            f"epsilon {i['eps']:f}\n"
            f"precision {i['precision']}\n"
            f"sets {i['sets']}\n"
            f"size {int(i['size'])}\n"
            f"storage {i['storage']}\n"
        )
        return f"START\n{body}END\n"

    def _list(self, args: str | None) -> str:
        prefix = args.split(" ")[0] if args else None
        rows = self.reg.list(prefix)
        # line format "%s %f %u %llu %llu\n": src/conn_handler.c:377-382
        body = "".join(
            f"{r['name']} {r['eps']:f} {r['precision']} {r['bytes']} {int(r['estimate'])}\n"
            for r in rows
        )
        return f"START\n{body}END\n"

    def _guarded(self, fn) -> str:
        try:
            return f"{fn()}\n"
        except HlldError as e:
            msg = str(e)
            if msg in (SET_NOT_FOUND, NOT_PROXIED):
                return f"{msg}\n"
            return f"{_CLIENT_ERR}{_BAD_ARGS}\n"
