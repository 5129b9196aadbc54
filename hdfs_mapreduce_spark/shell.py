"""Interactive client shell — the reference's menu-driven client
re-expressed as a line-oriented REPL.

Parity targets:
* dfs/client/cli.go:63-96 — main menu loop (Download / Upload / Delete /
  Compute / Cluster stats / Exit), every action returning to the menu.
* dfs/client/cli.go:105-145 — per-action flows: pick a remote file, then
  prompt for the local/remote counterpart name.
* dfs/client/cli.go:147-166 — Compute picks a remote input, a local
  plugin file, and an output name.
* dfs/client/dir.go:96-145 — the flat remote listing is rendered as a
  VIRTUAL directory tree: names containing ``/`` become folders, folders
  sort first, files second, both alphabetically; selecting a folder
  descends, a back entry returns to the main menu.
* dfs/client/print.go:11-22 — cluster stats printed as one dotted block
  per node.

The reference uses promptui arrow-key menus; this shell is line-oriented
(numbered choices read from stdin) so it works over any pipe and is
testable by scripting stdin — the selection SEMANTICS (what is listed,
in what order, what each pick leads to) are the parity surface, not the
keystrokes.
"""

from __future__ import annotations

import os
import sys

MAIN_MENU = "« main menu"
PARENT_DIR = "‹ up one level"

_MENU = (
    "Download file",
    "Upload file",
    "Delete file",
    "Compute file",
    "Get cluster stats",
    "Exit",
)


def remote_choices(dirname: str, paths: list[str]) -> list[tuple[str, bool]]:
    """(name, is_dir) entries for one virtual directory level, folders
    first then files, each group sorted — dir.go:96-145 semantics over a
    flat list of ``a/b/name`` table paths."""
    prefix = dirname.strip("/")
    plen = len(prefix.split("/")) if prefix else 0
    dirs: set[str] = set()
    files: list[str] = []
    for p in paths:
        parts = p.strip("/").split("/")
        if prefix and parts[:plen] != prefix.split("/"):
            continue
        rest = parts[plen:]
        if not rest:
            continue
        if len(rest) == 1:
            files.append(rest[0])
        else:
            dirs.add(rest[0])
    return [(d, True) for d in sorted(dirs)] + [
        (f, False) for f in sorted(files)
    ]


def local_choices(dirname: str) -> list[tuple[str, bool]]:
    """Local filesystem one level: dirs first then files, sorted
    (cli.go handleLocalFiles counterpart). Hidden entries are skipped —
    the reference's home-dir browser never lists dotfiles usefully."""
    try:
        entries = [e for e in os.listdir(dirname) if not e.startswith(".")]
    except OSError:
        entries = []
    dirs = sorted(e for e in entries if os.path.isdir(os.path.join(dirname, e)))
    files = sorted(
        e for e in entries if not os.path.isdir(os.path.join(dirname, e))
    )
    return [(d, True) for d in dirs] + [(f, False) for f in files]


def list_remote_paths(eng) -> list[str]:
    """Full relative paths of every table under the warehouse — the flat
    ``ls`` the reference's dir tree renders. A directory is a TABLE leaf
    when it has any plain-file child (parquet part files / _SUCCESS);
    directories with only directory children are virtual folders."""
    from hdfs_mapreduce_spark.sources import fs as hfs

    fs, root = hfs.fs_and_path(eng.spark, eng.warehouse)
    rootstr = str(root.toUri().getPath()).rstrip("/")
    out: list[str] = []

    def walk(path) -> None:
        children = fs.listStatus(path)
        subdirs = []
        is_leaf = False
        for st in children:
            if st.isDirectory():
                subdirs.append(st.getPath())
            else:
                is_leaf = True
        rel = str(path.toUri().getPath()).rstrip("/")[len(rootstr) :].lstrip("/")
        if is_leaf and rel:
            out.append(rel)
            return  # partition subdirs are table internals, not folders
        for sd in subdirs:
            walk(sd)

    walk(root)
    return sorted(out)


class Shell:
    """One interactive session over an Engine. ``readline``/``out`` are
    injectable so tests drive the full loop through pipes."""

    def __init__(self, eng, in_stream=None, out=None, home_dir: str | None = None):
        self.eng = eng
        self.inp = in_stream or sys.stdin
        self.out = out or sys.stdout
        self.home_dir = home_dir or os.getcwd()

    # --- primitives --------------------------------------------------------
    def _print(self, *lines: str) -> None:
        for ln in lines:
            print(ln, file=self.out)

    def _input(self, prompt: str) -> str | None:
        """One line from the scripted/interactive stream; None on EOF
        (EOF exits the shell the way promptui's interrupt does)."""
        print(prompt, file=self.out, flush=True)
        line = self.inp.readline()
        if line == "":
            return None
        return line.strip()

    def _select(
        self, label: str, choices: list[tuple[str, bool]], escape: str = MAIN_MENU
    ) -> tuple[str, bool] | None:
        """Numbered menu: prints ``label`` then ``0) <escape>`` and the
        choices (folders marked ``/``); returns the picked (name, is_dir)
        or None for escape/EOF. Re-prompts on invalid input, like any
        menu loop."""
        while True:
            self._print("", label, f"  0) {escape}")
            for i, (name, is_dir) in enumerate(choices, 1):
                self._print(f"  {i}) {name}{'/' if is_dir else ''}")
            raw = self._input("select>")
            if raw is None:
                return None
            if raw.isdigit():
                n = int(raw)
                if n == 0:
                    return None
                if 1 <= n <= len(choices):
                    return choices[n - 1]
            # name match as a convenience for scripted sessions
            for name, is_dir in choices:
                if raw == name:
                    return (name, is_dir)
            self._print(f"invalid choice: {raw!r}")

    def _browse_remote(self, label: str) -> str | None:
        """Descend the virtual directory tree until a table is picked
        (dir.go:96-145 navigation; escape returns to the main menu)."""
        paths = list_remote_paths(self.eng)
        cur = ""
        while True:
            choices = remote_choices(cur, paths)
            escape = PARENT_DIR if cur else MAIN_MENU
            where = "/" + cur if cur else "/"
            picked = self._select(f"{label} [{where}]", choices, escape)
            if picked is None:
                if not cur:
                    return None
                cur = "/".join(cur.split("/")[:-1])
                continue
            name, is_dir = picked
            if is_dir:
                cur = f"{cur}/{name}" if cur else name
            else:
                return f"{cur}/{name}" if cur else name

    def _browse_local(self, label: str) -> str | None:
        cur = self.home_dir
        while True:
            choices = local_choices(cur)
            escape = PARENT_DIR if cur != self.home_dir else MAIN_MENU
            picked = self._select(f"{label} [{cur}]", choices, escape)
            if picked is None:
                if cur == self.home_dir:
                    return None
                cur = os.path.dirname(cur)
                continue
            name, is_dir = picked
            full = os.path.join(cur, name)
            if is_dir:
                cur = full
            else:
                return full

    # --- actions (cli.go:105-166) -----------------------------------------
    def _download(self) -> None:
        name = self._browse_remote("Select remote file to download")
        if name is None:
            return
        save_as = self._input("Save file as. Ex: /<f1>/<f2>/<filename>")
        if not save_as:
            return
        try:
            self.eng.get_file(name, save_as)
            self._print(f"downloaded {name} -> {save_as}")
        except Exception as exc:
            self._print(f"download failed: {exc}")

    def _upload(self) -> None:
        local = self._browse_local("Select file to upload")
        if local is None:
            return
        name = self._input("Filename. Ex: <f1>/<f2>/<filename>")
        if not name:
            return
        fmt = self._input("Format [text/csv/json/parquet] (default text)") or "text"
        try:
            self.eng.put(local, name.strip("/"), fmt=fmt or "text")
            self._print(f"uploaded {local} as {name.strip('/')}")
        except Exception as exc:
            self._print(f"upload failed: {exc}")

    def _delete(self) -> None:
        name = self._browse_remote("Select remote file to delete")
        if name is None:
            return
        try:
            self.eng.rm(name)
            self._print(f"deleted {name}")
        except Exception as exc:
            self._print(f"delete failed: {exc}")

    def _compute(self) -> None:
        target = self._browse_remote("Select file to compute")
        if target is None:
            return
        plugin = self._browse_local("Select compute file")
        if plugin is None:
            return
        output = self._input("Save output file as. Ex: <f1>/<f2>/<filename>")
        if not output:
            return
        from hdfs_mapreduce_spark.__main__ import _is_module_plugin, _load_plugin

        try:
            if plugin.endswith(".py") and _is_module_plugin(plugin):
                mod = _load_plugin(plugin)
                self.eng.compute(
                    target,
                    mod.mapper,
                    mod.reducer,
                    map_schema=mod.MAP_SCHEMA,
                    reduce_schema=mod.REDUCE_SCHEMA,
                    output_name=output.strip("/"),
                    on_status=lambda m: self._print(m),
                )
            else:
                self.eng.compute_binary(
                    target,
                    plugin,
                    output.strip("/"),
                    on_status=lambda m: self._print(m),
                )
            self._print(f"computed {target} -> {output.strip('/')}")
        except Exception as exc:
            self._print(f"compute failed: {exc}")

    def _cluster_stats(self) -> None:
        """print.go:11-22 format, one dotted block per executor node."""
        for node_id, st in self.eng.node_stats().items():
            self._print(
                "",
                f"StorageNode UUID: {node_id} ({st['host_port']})",
                f"Transferred bytes.........................{st['input_bytes']}",
                f"Shuffle read bytes........................{st['shuffle_read_bytes']}",
                f"Shuffle write bytes.......................{st['shuffle_write_bytes']}",
                f"Tasks run.................................{st['total_tasks']}",
                f"Memory used/max...........................{st['memory_used']}/{st['max_memory']}",
                "------------------------------------------------------",
            )
        self._input("press Enter for the main menu")

    # --- main loop (cli.go:63-96) -----------------------------------------
    def run(self) -> int:
        while True:
            picked = self._select(
                "What do you want to do?",
                [(m, False) for m in _MENU],
                escape="Exit",
            )
            if picked is None or picked[0] == "Exit":
                self._print("bye")
                return 0
            action = picked[0]
            if action == "Download file":
                self._download()
            elif action == "Upload file":
                self._upload()
            elif action == "Delete file":
                self._delete()
            elif action == "Compute file":
                self._compute()
            elif action == "Get cluster stats":
                self._cluster_stats()
