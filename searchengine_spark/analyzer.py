"""Text analysis: tokenizers as vectorized Arrow/pandas UDFs.

Mirrors the reference's analyzer behavior (QryParser.java:45-51,
QryParser.tokenizeString QryParser.java:442-459): lowercase, punctuation
splitting (``near-death`` -> ``near``, ``death``), optional stopword removal
and Krovetz-style stemming. Two registered analyzers:

- ``simple``  — lowercase + ``[a-z0-9]+`` extraction; no stopwords, no stem.
  (Exactly reproducible in ANSI SQL / DuckDB for the correctness oracle.)
- ``english`` — same tokenization, Lucene-style English stopword removal with
  **position slots preserved** (stopword -> empty string, mirroring the
  TermVector stem-0 convention, TermVector.java:18-20), plus a light
  Krovetz-style inflectional stemmer (HW1-5 behavior; pass ``stem=False``
  for the HW6 no-stem configuration, QryParser.java:48-50).

The same pure-Python functions run inside pandas UDFs (executor side) and in
the test oracle (driver side), so index and oracle tokenize identically.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

TOKEN_RE = re.compile(r"[a-z0-9]+")

# Lucene EnglishAnalyzer default stop set (public, org.apache.lucene.analysis.en)
LUCENE_STOPWORDS = frozenset(
    """a an and are as at be but by for if in into is it no not of on or such
    that the their then there these they this to was will with""".split()
)


# KStem is dictionary-first (Krovetz '93, "Viewing morphology as an
# inference process"; behavior as shipped in Lucene's KStemmer): a word
# found in the lexicon is returned as-is (or via a direct-conflation
# entry) BEFORE any suffix rule fires, and every suffix step checks
# candidate stems against the lexicon before falling back to spelling
# heuristics. This module implements that full multi-step algorithm
# with an embedded HEAD lexicon (~4,000 entries: high-frequency base
# forms plus every -s/-se/-ze/-che/-ed/-ing-final lemma the suffix
# rules would otherwise truncate) instead of the complete ~30k
# KStemData tables (not shippable here): for lexicon words and their
# regular inflections the behavior is dictionary-exact; for
# out-of-lexicon words the documented heuristic fallbacks apply. Both
# tables are replayed verbatim in the DuckDB oracle (gate builds BOTH
# the scalar CASE `_kstem_sql` and the hash-join stem map
# `kstem_map_ctes` from THESE — single source of truth), and >=6k
# input->output pairs are pinned in tests/test_kstem_golden.py.

# Direct conflations: irregular morphology the rules cannot derive
# (KStem resolves these through dictionary entries).
KSTEM_EXCEPTIONS: dict[str, str] = {
    # length-guard casualties of the regular rules
    "died": "die", "tied": "tie", "lied": "lie", "used": "use",
    "using": "use", "dying": "die", "lying": "lie", "tying": "tie",
    "quizzes": "quiz",
    # irregular plurals
    "women": "woman", "men": "man", "children": "child", "feet": "foot",
    "teeth": "tooth", "mice": "mouse", "geese": "goose", "oxen": "ox",
    "gentlemen": "gentleman", "businessmen": "businessman",
    "policemen": "policeman", "firemen": "fireman",
    "spokesmen": "spokesman", "chairmen": "chairman",
    "congressmen": "congressman", "fishermen": "fisherman",
    "salesmen": "salesman", "freshmen": "freshman",
    # -f/-fe plurals
    "wives": "wife", "knives": "knife", "wolves": "wolf",
    "shelves": "shelf", "halves": "half", "selves": "self",
    "thieves": "thief", "loaves": "loaf", "scarves": "scarf",
    "calves": "calf", "elves": "elf",
}

# Head lexicon: high-frequency words the dictionary-first steps check.
# Membership means "return as-is when seen whole, and accept as a stem
# candidate inside the plural / past-tense / progressive steps".
KSTEM_LEXICON: frozenset = frozenset("""
accomplish account achieve act actor add address admit adopt advance afford
agree airport burn career census driver envy merge pick player right ring
suspect talk virus
aid aim alarm alert alias allow always amount analysis animal answer
anything appear apply approach area argue arm army arrange arrest arrive
artist ask assist atlas attach attack attempt attend aunt autumn avoid award
baby back balance bank base basis bathe bear beat bed begin being believe
besides bias bird blast bleed block board boat body boil bomb bone book
boost borrow bottle bottom box boy branch brand breath breathe breed brick
bridge bring brush build building bus business buzz call calm camera camp
campus canvas car card care carry case castle cat catch cause cave ceiling
cell center century chain chair chairman challenge chance change chaos
charge chart chase chat check cheer child choose church circle cite city
claim clap class classify clean clear climb clock close clothes clothing
cloud club coach coast code collect college color comfort command comment
commit company compare complete computer concern conduct confirm connect
consider consist contain continue contract control cook copy corner correct
cost count country course court cousin cover crash crawl create creed crisis
cross crowd cry cup cure cycle dance dare date day deal debate decade decide
declare deed define degree deliver demand deny depend describe desert design
desk destroy detect determine develop device diagnosis die direct direction
echo going this
discuss disease distance disturb divide doctor dog dollar door dose doubt
drag dream dress drive drop drum dry during duty eager earn economics edge
edit effect effort elect element emphasis employ empty encourage end enemy
energy engage engine enjoy enter equal escape establish evening event
everything examine example exceed exchange excuse exercise exist expand
expect expense
experiment explain explore export expose express extend face fact factory
fail fair faith family fancy farm farmer fashion father favor fear feed
feel feeling ferry field fight figure file fill film finish fire firm fish
fit fix flash flip float flood floor flourish flow flower fly fold follow
force forest forget form foster free freeze fresh friend fry fund gain game
garden gas gate gather gaze girl give glance glass go goal govern grab grade
grant graph grasp greed grin guard guess guest guide hand handle hang happen
harm hate hatred head headquarters heal heat height help hero hill hold
honor hope horse hospital host hotel hour house hug hundred hunt hurry
hypothesis ice identify ignore imagine impact import impress improve include
increase indeed indicate industry inform insist install instruct intend
interest interview invent invest invite involve island issue item job jog
join judge jump justify keep key kick kill king kiss kitchen knife knit know
lamp land last laugh launch law lawyer lead leader lean learn leave lens
lesson letter level lie lift light like limit line link lion list listen
live load loan locate lock long look love machine mail main manage map march
mark market marry match material mathematics matter measure meet meeting
member mention metal mind minute miss mission mix model modify moment money
month moon morning mother mount mountain mouse move movie multiply murder
muscle music naked name nation nature need neighbor nerve news night nod
noise nose note nothing notice notify novel nurse object observe obtain
occupy occur ocean offer office open operate oppose order organize oven own
pack page paint painting palace paper parent park part party pass past pat
path patrol pattern pause pay peace pencil perform perhaps permit phone
photo phrase physics picture piece pilot pin place plan plant play please
plug poem point police policy politics pop port position potato pour power
practice predict prefer prepare present press prevent price prince princess
print problem proceed process produce product profit progress project
promise promote propose protect protest prove provide publish pull pump
punch punish purchase purpose push qualify queen query question quiz rain
raise range rank rate reach read reader realize reason receive recognize
record recruit reduce refer reflect reform refuse region regret relate
relax release rely remain remark remember remind remove rent repair repeat
replace reply report request require rescue reserve resolve resource
respect respond response rest result retire return review reward rhythm
risk river road roar rock role roll roof room rope rose route rub rule run
rush sacred sail sale salt sand satisfy save scan scarf schedule school
science scissors score scream screen sea seal search season seat section
seed seek seem select sell sense sentence separate series serve service
settle shade shadow shape share shave sheet shelf shift ship shoe shop
shout show sign signal simplify sing singer sister site size skill skip
slam sleep slip smile smoke snap snow soil soldier solve something song
sometimes sort sound source space speak species specify speed spell spend
spin spirit split sport spot spread spring square stage stair stamp stand
star stare start state station stay steam step sterling stick stir stone
stop store storm story stream street strengthen stress stretch strike
string struggle student study subject submit succeed suffer suggest suit
summer supply support suppose surprise survive sustain swim switch system
table tag tap target task taste tax teach teacher team tell temple tend
term test testify thank theory thesis thief thing threaten thus ticket tie
tiger time tip title tomato tool tooth top touch tour tower town track
trade train translate trap travel treat tree trim trip trust try turn
twist type uncle unit unite use valley value vanish vary verify video
village visit visitor voice vote wait walk wall want warm warn wash watch
water wave wear wedding week weigh welcome wheel whereas wicked width
window wing winter wish wolf wonder word work worker worry wrap write
writer yard year yell zip
abacus ability able about above absent absorb abstract absurd abundant abuse
academic academy accept acclaim accompany accuse accustom ache acquire acre
across activity actress acute adapt adequate adjust admire adulteress
adverse advise aesthetic afraid africa again against agency agenda
aggressive agile aisle albeit album algorithm alien align alike alive alley
allocate almond almost alone along aloof already altar although alumnus
amass amaze ambitious amend america amidst among amongst amplify analyze
anchor ancient angle angry ankle anniversary annoy annual anonymous anthem
anticipate anxiety anxious anybody anyone anywhere apart apartment apologize
apparatus apparent appeal apple appoint appreciate appropriate approve april
apron apt arch arena arid around arouse array arrow arthritis artificial
asbestos ashamed asia aside asleep asparagus aspect assault assemble assert
asset assign associate assume assure athlete athletic atom atomic attic
attract attractive attribute auction audible audience audit august author
authoress authority authorize automatic avatar avenue average await awake
aware away awful awkward axis bacon badge bag bake bakery bald ball balloon
ballot bamboo banana band banner bar bare bark barn baroness barracks barrel
barren basement bash basic basin basket bat batch battery battle bay beach
bead beak beam bean beard beast beautiful beautify beaver because become bee
beef beetle before behalf behind bell bellows belong below belt bench bend
beneath benefit berry beside bet betray between beverage beyond bicycle bid
bill billiards bin biography biscuit bishop bite bitter bizarre black blade
blame bland blank blanket blaze bleak blend bless blind blog blond bloom
blossom blouse blue blunt blur boast bogus bold bolt bond bonnet bonus boom
border boss bounce boundary bounty bouquet bow bowl brace bracelet brain
brass brave breach breeze bribe brief brigade bright brilliant brim brink
broad broadcast bronchitis bronze brood broom brow brown browse browser
brutal bubble bucket buckle bud budget buffalo bulb bull bullet bully bundle
bunker burden bureau burrow burst bury bush busy butler butter butterfly
button bypass byte cabin cabinet cable cache cactus cage cake calculate calf
calorie camel campaign canal candle cannon canoe canvass canyon cap capable
cape capital captain capture carbon carcass careful careless caress cargo
carpet carrot cart carton cartoon carve cascade cash casket cast casual
category cattle caution cautious cavalry cease cedar celebrate celebrity
cellar cement cemetery ceremony certain certify chalk chamber channel chapel
chapter charcoal chariot charity charm chassis cheap cheat checkers cheerful
cheese chef chemistry cherry chest chew chicken chief chilly chimney chin
chip chocolate choir chop chord chorus chronic churn cigar cinema circuit
circulate circus citizen civic civil clan clarify clash classic clause claw
clay clench clever cliff climate cling clip cloak cloth clown clue clumsy
cluster clutch coal coarse coat cobweb cocoa coconut coexist coffin
cognitive coherent coil coin cold collaborate collapse collar colonial
colony colorful column comb combat combine comet comic commend commerce
committee common communicate community compact compass compete compile
compiler complain complex comply compose comprehensive compress compute
conceive concentrate concert concise conclude concrete cone confident
configure conform confront confuse congress conquer conscience conscious
consent conservative conserve considerable consistent console constant
construct consult consume contact contemporary contend content continent
continuous contour contribute controversy convenient converse convert convey
convince cookie cool cooperate coordinate cope copper coral cord cordial
core cork corporate corpse corpus correspond corridor corrupt cosmos costly
costume cottage cotton couch cough could council counsel counter countess
countless county courage courtyard cozy crab crack cradle craft cram cramp
crane crate crater crayon crazy creak cream creature creep crevice crew crib
cricket crime crimson cringe crisp critical criticize crossroads crouch
crown crucial crucify crude cruel cruise crumb crunch crust crystal cube
cucumber cuff cultivate culture cumulative cupboard curb curious curl
currency current curse curtain curve cushion custard customer cutlass
cynical cypress daily dairy daisy dam damage damp damsel dangerous dark
darkness dart dash database dawn dead deaf dear debris decay deceive
december decent deck decline decorate decrease dedicate deem deep deer
defeat defend defense defiant definite defy delay delegate delete deliberate
delicate delicious delight delivery democracy demon demonstrate den denim
denote dense density dental dentist depart dependent deposit depot depth
deputy derive descend deserve designate desire despair desperate destiny
detach detail detective deter devote devour dew diabetes diagram dial
diameter diamond diary dice dictate dictionary differ difficulty dig digital
dignify diligent dilute dim dime dinner dip diplomatic dire dirt dirty
disappear disappoint disc discard discern discount discovery discus
dishearten disk dismiss disobey dispatch display dispose dispute disrupt
dissent dissolve distant distinct distort distract distress distribute ditch
dive diverse divine dizzy dock doctrine dodge dome domestic dominant
dominate domino donate donkey dormant dot double dough dove down download
downstairs dozen dragon drain drape drastic draw drawer dread drench drift
drill droplet drought drown dual dubious duchess duck duke dull dumb durable
duress dusk dust dwell dynamic dynasty eagle ear early earnest earthquake
easel east eastern easy eclipse economic economy edify educate eel
efficient eject elaborate elastic elbow elder electric elegant elephant
eligible eliminate eloquent email embargo embark embarrass embassy emblem
embody embrace emerge emergency eminent emit emotional emperor emphasize
empire empirical empress emptiness enable enact enchant enchantress
encounter endorse endure enforce engineer engulf enhance enlarge enlist
enormous enrich enroll ensure entail entire entitle entity entrance entrust
entry envelope epic equator equip equivalent era erase erode errand erupt
escalate essay essential estate estimate eternal ether ethical ethnic ethos
europe evaluate even ever every everybody everyone everywhere evident evil
evolve exact exaggerate exalt exam excel excellent exclude execute exert
exhale exhaust exhibit exit exotic expel expensive expire explicit explode
exploit external extinct extract extreme eyeglass fabric facade facility
faculty fade faint fairly falcon false falsify famous fang fantasy fare
fascinate fatal feasible feather february federal fee feeble fence fern
ferryboat fertile fetch fever fiber fiberglass fierce fifteen fifty fig
filter fin final finance financial fine finger fiscal fist fitness flag
flake flame flank flannel flap flask flat flaunt fleet flesh flexible flinch
fling flint flock flop flour fluent fluid flush flute foam focus fog folder
folk fond foolish forbid foreign foresee forfeit fork formal former fort
fortify fortress fortune forty forum fossil foul fountain four fowl fox
fragile fragment frail frame frank frantic freight frequency frequent friday
friendly frigid fringe frog frontier frost frown frugal fruit fuel fulfill
full fundamental funnel funny fur furious furnace furnish further
furthermore fury fuse future gadget gala galaxy gallery gallon gallows gang
gap garage garment garnish gasoline gear gel gem general generate generic
generous genetic genius gentle genuine geography geometry germ giant gift
gigabyte gigantic ginger giraffe glacier glad gland glide glimpse global
globe gloomy glorify glory glove glow glue gnaw goat goddess goggles gold
golden good goodness goose gorge gorgeous gospel governess gown grace
graceful gradual graduate grain gram grand granite grape grate gratify grave
gravel gravity gravy gray graze grease great green greet grid grief grill
grim grip groan grocery gross grove growl grunt guarantee guild guilty
guitar gulf gull gush gutter habit hail hall halt hammer hamper handsome
handy happy harass harbor hard hardware hare harness harp harsh harvest
hashtag hatch haunt hawk hay hazard haze headache headset healthy heavy
hectic hedge heed heiress helmet hen henceforth herd hermit herpes hesitate
hidden hierarchy high hinder hinge hire hiss history hitherto hive hockey
hog hoist hollow holy home honest honey honk hood hoof hook hop horizon
horizontal horn horrify hose hostess hostile hound hover however howl huge
hull hum human humble humid hungry huntress hurl hut hybrid hymn iceberg
icon ideal identity idle idol igloo illness illustrate image imitate immense
immigrate imminent immune imperial implicit imply impulse incense inch
incline incorporate index indoors indulge inevitable infant infantry
infinite informal inhale inherent initial initiate injury ink inlet inn
innate inner innocent inquire insect insert inside inspect inspire instance
instead institute instrument insult intact integrate intense intensify
interact intercept interfere internal internet interpret interrupt intimate
into intricate introduce intrude invade inventory invert investigate
invisible invoke iris iron irony isolate itself ivory jacket jail jam
january jar jaw jealous jelly jest jewel joint joke jolly jolt jot journal
journey joyful jug juice july june jungle junior junk jury justice juvenile
keen keg kennel kernel kerosene kettle keyboard kid kidney kind kindness
kiosk kite kitten knee kneel knight knob knock knot kudos label laboratory
lace lack ladder lady lag lake lame lament lantern lap lapel lapse laptop
large larva laser lash latch late latent lateral laundress lava lavish lawn
layer laziness lazy leaflet leak leap lease least ledge legacy legal legend
legitimate lemon lend length lenient leopard less lethal lever leverage levy
lexicon liable liberal liberty library license lick lid ligament likely
likewise limb lime limestone limp linear linen linger lioness lip liquid
literal literate litre little lively liver lizard lobby lobster local lodge
loft log logical login logos logout loneliness lonely loom loop loose lord
lorry lose lottery lotus loud lounge low loyal loyalty lucid lucky lumber
lump lunar lung lurk lush luxury lyric mad madness magnet magnetic magnify
maid maintain major majority mammal mandatory mango manifest manipulate
mansion mantle manual manuscript many maple marble margin marine marsh mask
massive mast mat mate mattress mature maybe maze meadow meager meal mean
meanwhile measles medal mediate medical medieval megabyte mellow melody
melon memo memorize memory mend mental mentor menu mercy mere mermaid mesh
message messy meteor method midst might mightiness migrate mild mile
military mill mimic mineral minimal minimize ministry minor minority mint
minus miracle mirror misery mist mistake mistress moan moat mob mobile
mobilize mock mode modem moderate modern modest moist molasses mold mole
monarch monastery monday monitor monk monkey monopoly monster monument mood
mop moral moreover morsel mortal mosaic mosque mosquito moss motel moth
motion motivate motive motor motto mound mourn mouth mow much mud mug mule
mumps mundane municipal mural murderess museum mushroom musket must mustache
mustard muster mutton mutual myself mysterious mystery mystify myth nail
naive nap napkin narrow nasty national native naval navigate near neat neck
needle negative negotiate neither nephew nervous nest net network neutral
never nevertheless nice niche nickel niece nimble noble nobody node nominate
none nonetheless nonsense noon normal north northern notable notch notebook
notion notorious notwithstanding november nowhere nozzle nuclear nucleus
nudge nugget nullify numb numerous nun nursery nut oak oar oasis oath
oatmeal obedient obese obey obligate oblique oblong obscure obsess obsolete
obvious october odd odor offend offense official offline often omit once
onion online only onto ooze openness opera opportunity optimal optimize oral
orange orbit orchard orchestra orchestrate ordinary organ organic original
ornament ornate orphan orthodox ostrich other otherwise otter ought ounce
ourselves outdoors outer outfit outlet outline outside oval over overall
overcome overhaul overlap overpass overseas oversee overt overturn owl owner
ox oxygen oyster pace pacify pad paddle pail painful pale palm panel panic
pant panther pants parade parallel parcel pardon parish parlor parrot parry
parser parsley partial participate particular passive password paste pasture
patch pathos patient pea peach peak peanut pear pearl peasant pebble peck
peculiar pedal peel peg pelvis penalty pension pepper perceive perch perfect
perfume peril perish permanent perpetual persist persistent personal
personality personify persuade pest pet petal petty pew phase philosophy
physical piano pierce pigeon pile pillar pillow pinch pine pink pint pious
pipe pipeline pistol piston pit pitcher pity pivotal pixel plain plane
planet plank plaster plate platform platter plausible playlist plaza
pleasant pledge plight plod plot pluck plum plumber plump plunge pocket pod
podcast poetess poetry poke polar polish polite political polygon pond
ponder pony poor popular populate porch pork portable porter portion
portrait pose positive possess possible post pot potent potential pouch
poultry pounce pout powder powerful pragmatic prairie praise preach precede
precious precise pregnant premier prescribe pressure prestigious presume
pretty previous prey prick pride priest priestess primary prime primitive
principal printer prior prioritize priority pristine privacy private prize
probable probe proclaim prod productive profess profile profound prolong
prominent prompt prone pronounce prop proper property prophecy prophesy
prophet prose prosper proud prowl prudent pry public pulpit pulse punctual
pupil puppet pure purify purple purr purse pursue puzzle pyramid quaint
qualitative quality quantify quantitative quantity quarry quart quarter
quartz quench quest queue quick quiet quill quilt quit quite quiver quote
rabbit rabies raccoon rack radar radiant radical radius raft rag rage rail
rainbow rally ram ramp rampant ranch random ransack rant rap rapid rare
raspberry rat rather ratify rational rattle ravage ravine raw razor react
ready reality really realm reap rear reassure rebel rebuild recall recent
recess recite reckless reckon reconcile recount recover recovery recreate
rectangular rectify recycle redeem redefine reef reek refine refinery
refrain refresh refund regain regal regional regress regular regulate reign
rein reinforce rejoice relative relevant reliable relic relocate remedy
remit remnant remodel remote rename render renew repay repel repress reprint
reproduce reptile reschedule resemble resent reside residue resign resin
resist responsibility restore restrict resume retain retort retreat retrieve
reuse reveal reverse revert revise revoke revolt ribbon rice ride ridge
ridicule rifle rig rigid rim rind rinse riot rip ripe ripple rise rite
ritual rival roam roast rob robbery robe robot robust rocket rod rogue
romantic rooster root rot rotate rotten rough round router row royal rubble
rudder rude ruin rum rumor runtime rural rust rustic ruthless sack sacrifice
saddle sadness saga sage saint salad salary salient salmon salon saloon
sanctuary sane sanitary sap sapling sardine sass satchel saturday sauce
saucer sausage scaffold scale scalp scam scanner scar scarce scare scarlet
scene scenic scent scepter schema scheme scholar scold scoop scooter scope
scorch scorn scour scowl scrap scrape scratch scrawl screech scroll scrub
sculptor sculpture scythe seam seamstress seaweed secret sect sector secular
secure security sedan seethe seize selfish seminar senator senior sensible
sentinel september serene sergeant serious serpent servant server session
seven seventeen seventy several severe shack shaft shake shall shallow
shampoo shard shark sharp shatter shawl shear shed sheer shell shepherd
shepherdess sheriff shield shin shingle shingles shiny shiver shore short
should shovel shred shriek shrine shrink shrub shrug shun shutter shy sick
sickle sickness side siege sieve sigh signify silent silk sill silly silver
similar simmer simple simulate sin since sincere sinew single sinister sip
siren sixteen sixty sizzle skeleton skeptical sketch skid skillet skim skin
skirt skull slab slant slap slash slate slay sled sleek sleeve slender slice
slide slight slim slope sloppy slot slow slump small smart smartphone smash
smirk smock smooth snag snail snake snatch sneer sneeze sniff snore snort
snug soak soar sob sober social society sock sofa soft softball software
solar sole solemn solid solidify solitary some somebody someone somewhere
songstress soon soothe sophisticated sorceress sore soup sour south southern
spacious spade spam span spar spare spark sparkle sparrow sparse spawn spear
special specific speck speculate sphere spice spicy spider spike spill spine
spire spiritual spit splash splat spleen splendid spoil sponge spontaneous
spoon spouse spout sprawl spreadsheet sprig sprint sprout spruce spur spurn
spy squad squadron squat squeal squeeze squint squirrel stab stabilize
stable stack stadium staff stain stairway stake stale stalk stall stammer
stanza stark startle startup starve stately static statistical statue
stature steady steak steed steep steeple steer stem sterile stern stew
steward stewardess sticky stiff still stimulate stipulate stock stomp stool
stoop stout straight strain strand strange strap strategic strategy stratify
strawberry strict stride striking strip stripe stroke stroll strut stub
stubborn stumble stump stun sturdy style stylus subscribe subsequent subsidy
substitute subtle subtract suburb subway success succumb sudden sufficient
suffix sugar suitable sulfur sulk sullen sully sultan sum summarize
summary summit summon sunday sunny superb superficial superior supervise
suppress supreme sure surf surface surge surgeon surgery surpass surplus
surrender suspense swallow swamp swan swap swarm sway sweater swell swerve
swift swirl sword syllable symbol sympathy symphony symptom syrup tablet
tackle tail tailor take tale talent tall tally tame tan tangible tangle tank
tanker tape tapestry tar tariff tarnish tarry tart tassel taunt tavern tea
teapot tear tease technical tedious telescope temper temporary tempt
temptress tenant tendency tender tendinitis tendon tennis tense tent
tentative tepid terminate terrace terrible terrify territory text textile
texture than thee theme themselves theology theorize therapy thereafter
thereby therefore therein thereof thereupon thick thicket thickness thigh
thin thirteen thirty thorn thorough those though thrash thread three thrive
throb throne through throughout throw thrust thud thumb thunder thursday
tide tidy tight tigress tile tilt timid tin tiny tired tissue toad toast toe
together toil token tolerate toll tomb ton tone tongue tonic torch torment
torpedo torrid torso tortoise toss total tough tournament tow toward towards
toxic trace tractor traffic tragedy trail trait traitress tramp trample
tranquil transact transcribe transform transfuse transmit transparent
transplant transport transpose tray tread treasure treasury treaty trek
tremble tremendous trench trespass triangle tribe tribute trick tricky
trigger trilogy triumph trivial trolley troop trophy tropical trot trough
trout truck trudge trumpet trunk tub tube tuesday tug tulip tumble tune
tunnel turban turbine turkey turnip turpentine turret turtle tusk tutor
tweed twelve twenty twig twilight twine twirl twitch udder ugly ultimate
umbrella umpire uncanny under underline underlying undermine underneath
unearth uneasy unfold uniform unify unique universal universe university
unknown unleash unless unload unlock until unto unveil update upgrade uphold
upland upload upon upper upright uproot upstairs urban urge urgent urn
useful user username usher usual utility utilize utter vacancy vacant
vaccine vagabond vague vain vale valid validate valuable valve van vanilla
vapor variety vase vast vault vein velvet vendor venom vent venture verbal
verge verse versus vertical very vessel vest veteran veto viable viaduct
vibrant vibrate vice vicious victim victory vigilant vigor vigorous vile
vilify villa vine vinegar vineyard vintage violate violent violet violin
viper viral virtual visa visible vista visual visualize vital vitamin vivid
vocabulary vocal void volatile volcano volume voluntary vow voyage
axe doe suite training status plus crocus fungus walrus octopus syllabus
consensus caucus citrus fetus sinus thesaurus terminus stimulus exodus onus
opus mucus locus nexus calculus hiatus impetus cumulus humus tetanus papyrus
platypus sarcophagus
vulnerable wade wafer waffle wagon wail waist waitress wand wander ward
wardrobe warehouse warrant warranty warrior wart wary wasp waste waterfall
watermelon waver wax weak weakness wealthy weapon weary weasel weather weave
web webcam website wedge wednesday weed weep weird well wellness west
western wet whale wharf whatever wheat when whenever where whereby wherein
whereupon wherever whether which whichever while whilst whip whirl whisk
whisker whistle white whoever whole whom whose wick wide wield wig wiki wild
wilderness willing willow wince winch wind windmill wine wire wise withdraw
wither within without withstand witness witty wooden worship worthy would
wreath wreck wren wrestle wrist wrong yacht yak yank yarn yearn yeast yellow
yield yoke yolk young yourself zag zealous zebra zero zig zombie zone zoo
abandon abbreviate abdomen abject ablaze abolish abound abreast abrupt
absolute abuzz accelerate accent acclimate accommodate accordion accost
accumulate acorn activate acuity adamant adept adjacent adjourn admiral
admonish adobe adrift advertise advocate aerial affable affair afflict
affluent afloat afoot aftermath aggregate aghast agility agitate agog agony
ahead ajar akin alcove alfalfa alienate alight aliquot alkaline allergic
alleviate alligator allot alloy ally almanac almshouse aloft aloud alphabet
alternate altitude aluminum amber ambient ambiguity ambulance ambush amethyst
amiss ammunition amnesty amphitheater ample amputate amuck anagram anatomy
ancillary anecdote anemic angular animate animation animosity annex annotate
announce anoint antenna anterior anthill anthology antidote antique antler
anvil aorta apathy aperture apex aphid apostle appease append applaud
appliance apprehend apprentice approach apricot aquarium aqueduct arable
arbitrate arcade arcane archer archipelago archive archway ardent arduous
armada armchair armor armpit armrest arsenal artery artichoke articulate
artifact ascend ascertain ashcan ashtray askew asphalt aspire aspirin assail
assassinate assess assimilate asteroid astir astonish astound astronaut
astronomer astute asylum atrium atrocity attain attire atypical audacious
audacity auditorium augment aurora austere austerity authentic autograph
automate autonomy avalanche avenge aviator avid awash awhile awning axle
backbone backpack backward bacterium badger bagel bagpipe bailiff ballad
ballast ballerina ballroom balustrade banal banality bandage bandit bandstand
banish banjo bankruptcy banquet banter baptism barbaric barbecue barber
barcode barge baritone barley barnacle barnyard barometer barracuda barrier
bartender bashful basil basilica bask bassoon bastion bathhouse bathtub baton
bayonet bayou bazaar beacon beaker beanstalk beckon bedraggled bedrock bedroom
bedspread beech beehive beet befriend begonia behemoth behold beige belated
belfry bellboy bellhop bemoan bemused benchmark benevolent benign berate
bereft beret berserk bewilder bicep bifocal bilateral bilingual billboard
billfold binder binocular biology bipartisan biplane birch birdbath birdcage
birthday bison blackberry blackboard blacken blacksmith bladder blatant bleary
blemish blissful blister blitz blizzard blot blowtorch blueprint bluff blur
bluster boardwalk boathouse bobcat bodyguard boiler boisterous bollard bolster
bombard bona bonfire bongo bookcase bookend bookmark bookshelf bookstore
boomerang botany boulder boulevard bovine bowtie bracket brackish bramble
brandish brash brawny brazen bread breadcrumb breakfast breastplate brevity
brewery brickyard briefcase brigand brighten brittle broaden broccoli brochure
bronco brook broomstick broth brunch brusque brutality buffoon bugle bulbous
bulky bulldozer bulletin bullfrog bumblebee bumpy bungalow bunion bunkhouse
buoyant burglary burlap burly burner burnish bursary buttercup buttress bygone
cabbage caboose cadet cafeteria caffeine calamity caldron calendar caliber
calibrate calipers camper campfire campground campsite campstool candelabra
candid candidate candlestick candy canister cannonball canopy cantaloupe
canteen canvasback capsule caption captivate captivity caravan caraway
carburetor cardboard cardiac cardigan cardinal carefree caricature carnation
carnival carousel carpenter carport carriage casserole cassette catacomb
catalog catapult cataract catfish cathedral catwalk cauldron causality
causeway caustic causticity cavity cedarwood cellophane centenary centipede
ceramic cerebral chalkboard chandelier chaperone chaplain charter chauffeur
checkpoint cheekbone cheetah cherish chestnut chic chickadee chipmunk chisel
chivalrous chivalry chowder christen chronicle chubby chug churchyard cinder
cinnamon circular citadel civility clammy clandestine clarinet clarity cleaver
clemency clipboard clipper cloakroom clobber clocktower clot clover coalmine
coarsen coastal cobbler cobweb cockpit cocktail cocoon codex codify cogent
cohere collide cologne colossal colt comatose combative comedian comely
commemorate commodity commonplace communal commuter compensate complexity
complicate complicity comply compound compulsory concave conceal concede
concentric concoct concourse concurrent condemn condense condiment condo
condone condor conduit confer confess confetti confide confine confiscate
congenial congested conglomerate congregate congregation conifer conjoint
conjugate conjure connate connoisseur consecrate conservatory consign
consolidate consonant conspiracy constable constellation constituency
constrain consulate contemplate continuity contort contradict contraption
contrite convene converge convex convict convulse cookbook copilot copious
copperhead cordless coriander corkscrew cornbread cornfield cornice coroner
corporeal corral correlate corroborate corsage cortex cosmonaut cottonwood
cougar courier courtesy courtyard covert cower coyote crafty crampon cranberry
crankcase crankshaft craven crayfish creampuff credibility creek crescent
crestfallen crevasse crockery crocodile croissant crooked crop crossbeam
crossbow crossword crowbar crucible cruelty cruiser crumpet crusade crutch
cryptic cubicle culminate culvert cumbersome cupboard cupcake curator curfew
curiosity curriculum cursory curt custody cutlery cyclone cylinder cymbal dab
daffodil daft dagger dainty dally dampen dandelion dapper darken dashboard
dastardly daunting daybreak dazzle deacon deafen debut decadent decanter
decathlon decelerate decency deciduous deckhand decompose decoy decrepit decry
deduct deepen deflect deformity defraud deft defunct dehydrate deity delineate
delta demolish demure denounce dentistry depict deplete deplore deploy
depravity depress deprive derail derelict derrick descry detain detonate
detour detract devastate deviate devious devise devout dexterity diagonal
dictator differentiate diffuse digit dignity dilapidated dilate diminish
dinghy dingy dinosaur diploma diplomacy dipstick directory dirigible disagree
discharge disclaim disclose discomfort disconnect discourage discredit disdain
disembark disenchant disguise disinfect dislike dislodge dismal dismantle
dismount disown disparity dispel dispense dispenser disperse displace
dissipate dissuade distill distrust diversity dividend docile dodge dogged
doghouse dolorous dolphin doorbell doorknob doormat doorstep dormitory dose
douse dovetail dowdy downpour drab dragnet dragonfly dramatize dresser dribble
driftwood drizzle drowsy drumstick dub ductile ductility dulcet dumpling dun
dungeon duplex duplicate duplicitous dustpan dutiful dynamo earlobe earmuff
earring earthworm easement eavesdrop ecology eerie efficacy effigy effusive
eggplant eggshell elasticity elated electricity electrify elegy elevate elite
elk elongate elucidate elusive emanate emancipate embankment ember embolden
embroil emerald emigrate emit empathy emphatic emporium empower emulate
emulsify encamp encircle enclosure encroach encyclopedia endorse endow endure
engrave enigma enigmatic enlighten enliven enmity enormity ensemble enslave
entice entourage entrench enumerate enunciate envision envoy enzyme ephemeral
epilogue epoch equality equate equidistant equity eradicate err ersatz erudite
escort esoteric espresso estuary eternity ethnicity eucalyptus eulogy euphoric
evacuate evade evaporate evergreen evict evoke ewe exacerbate excavate excerpt
excite exclaim exemplify exempt exhilarate exhort exonerate exorbitant expanse
expedient expedite expedition expend experience expunge exquisite extant
extort extrapolate extremity exuberant exude eyebrow eyedropper eyelash eyelid
fabricate facetious facilitate fairway falconer fallacy fallow fan farmhouse
fastidious fathom fatigue faucet fawn faze fecundity fedora feign felicitate
felony feral ferality ferment ferocity ferret fertilize fervent fib fickle
fictitious fiddle fidelity fieldwork fiesta figment finalize finery finesse
fingertip finite firefly fireplace firetruck firewood fishhook fixture fjord
flagpole flagrant flagship flamingo flashlight flatten flatter fleece flicker
flimsy flippant flipper floodgate florist flotilla flounder fluctuate fluency
fluffy fluidity fluorescent fluster foal foghorn folklore footbridge foothill
foothold footnote footprint footstool forearm forecast foreclose forehead
foreman forewarn forklift forlorn formality formulate forthright fortnight
foxglove foyer fractional frailty fraternity fraught freckle freeway freighter
fresco freshen frigate frighten fritter frivolity frivolous frolic frothy
frugality frumpy fudge fulcrum fulsome fumble fumigate fuselage futility
gaiety gallant gallantry galvanize gangly gangplank garish garner garrulous
gatehouse gaudy gaunt gazebo gazelle gazette gearbox gecko generalize
generosity genial gentility gentrify germinate gesture geyser ghastly gherkin
gimmick glade glaze gleam glib glider glisten glitter glossary glossy gnarled
goblet goblin godmother goldfish gondola gong gopher gourd granary grandiose
grandstand grapefruit grapevine grasshopper gravel gravestone gravitate
gravity greenhouse griddle grieve griffin grimy grindstone grotto groundhog
grouse grubby gruff guaranty guardian guidebook gullible gumdrop gunpowder gut
gymnasium gyrate gyroscope hacksaw haddock hailstone hairbrush hairpin hale
hallway hamlet hammock hamster handbag handbook handcuff handlebar handrail
hangar haphazard hapless harden hardy harry hasten hatchet haughty haven
hawthorn hayloft haystack hazy headband headlight headline headphone headrest
hearten hearth hearty heath hedgerow hefty heighten heinous heirloom
helicopter hemisphere henhouse herbal heredity heron herring hexagon hibernate
hickory hideout hierarchy highway hilarious hilarity hillside hilltop
hippopotamus hitch hoard hoarse hologram homely homestead homestretch homework
honesty hoodwink horsefly horseshoe hosepipe hostility hotbed hourglass
houseboat hovercraft hubcap huddle humane humanity humdrum humidity humiliate
humility hummingbird humph hunch hunker hurricane hush husk husky hydrate
hyena hypnotize icebox icicle icky iconic identity ideology idolize idyllic
igniter iguana illuminate immaculate immensity immerse immobile immunity
immunize impair impart impeach impeccable impede imperative imperious
impervious impetuous implacable implant implicate implore impose imprint
imprison impromptu improper improvise impunity inane incarcerate incinerate
incite incubate incubator indemnify indoctrinate inept inert infamy infernal
infiltrate infinity infirmary inflate inflict infringe infuse ingot ingratiate
iniquity inkstand inkwell innocuous innovate inquisitive inscription insidious
insignia insinuate insipid insolent insolvency instigate instill insulate
insurgency integrity intensity interject interlock intermingle intermission
interrogate intersect intersection intertwine interval intervene intimacy
intimidate intrepid intrigue inundate invalidate invigorate invoice iota irate
irksome irrigate irritate itemize itinerant jackal jackpot jaded jagged jam
jamboree jaunty javelin jawbone jeopardy jiggle jigsaw jocular jollity jostle
jovial jubilant jubilate judicious juggle jukebox jumble junction juniper jut
juxtapose kangaroo kayak keenly keepsake ketchup keyhole keyring khaki
kilogram kilometer kindle kingdom kinship knapsack kneecap knuckle koala
labyrinth lacerate lactate lagoon lair lambast laminate lampshade landfill
landlord landmark languish lanky lapdog lapel larder lark lasagna latitude
lattice laurel lavender lawsuit lax laxity lectern ledger leech leery legacy
legion legislate legitimize lemonade lentil lessen lethargic lethargy levee
levity liberate lifeboat lifeguard lighten lighthouse liken lilac lily
limber limescale limousine linchpin lineage lineup linguist lintel liquefy
liquidate liquor listless literate lithe liturgy livid llama lob locket
locksmith locomotive locust lodestone lofty loin loiter lollipop longevity
longitude lookout loosen loquacious lozenge lubricate lucrative ludicrous lug
luggage lukewarm lullaby lumberjack luminous lunacy lunch luncheon lurid
luscious lustrous lynx macabre macaroni mackerel madden maestro magazine
maggot magistrate magnolia mahogany mailbox maim mainland mainstay majesty
makeover malady malign mallard malleable mallet mammoth mandate mandolin
manger mangy manifold mannequin manor mantel mantis mar marathon marigold
marina marinate mariner marketplace marmalade marquee marrow marsupial mascot
masquerade masterpiece mastery mastiff matchbox matchstick maternity matrimony
matrix mattock maudlin mausoleum maverick maximize mayor meadowlark meander
medallion mediocre mediocrity meditate meek megaphone melancholy mellifluous
membrane memoir memorialize menace menial merchant meridian meringue mesa
mesmerize metabolize metaphor meticulous metronome mezzanine microphone
microscope midday midnight midpoint mileage milestone militia millennium
minaret minefield mingle miniature minnow minstrel mirthful miscalculate
miserly misery mishap misplace mistletoe mitten mobility moccasin mockingbird
modality modernize modesty modish modulate moisten molar molecule mollify
mollusk monarchy monetize monocle monogamy monopolize monorail monsoon moot
moped moraine morale morality morbid moribund morose mortality mortar mortify
mothball motif motorcade motorcycle mouthpiece mozzarella mudslide muffin
muggy mulberry mullet multiple multitude mumble mummify murky muse muskrat
mutate muted mutilate mutiny muzzle myopic mythology nab nag nanny narrate
narrative nascent nauseate nautical nebulous necessitate necessity necktie
nectar nectarine nefarious neighborhood net neuron neutralize newsletter
newsstand nicety nightfall nightingale nightstand nimbus nitrogen nobility
nocturnal nomad nonchalant nondescript noodle normalcy normalize nostril
notarize notebook notepad notoriety nourish nova novella novelty nubile nudity
nuisance numeral nurture nutmeg nylon oarlock obesity objectify obliterate
oblivious oboe obscurity obstacle obstinate obstruct obtuse octagon oddity
odious odyssey offbeat officiate offspring ointment oleander olfactory olive
omelet omen ominous onerous onlooker onslaught opacity opal opaque optician
opulent oracle orangutan ordain oregano orientate originate oriole ornery
oscillate ossify ostensible ottoman outback outboard outcrop outhouse
outlandish outlast outnumber outperform outpost outrun outshine outskirts
outsmart outweigh overcoat overestimate overrate overreact oversimplify
overture overwhelm oxbow oxcart oxidize ozone pagoda palatable palette pallid
paltry pamper pamphlet pan pancake pancreas panorama pantry papaya paperweight
paprika parabola parachute paradox parakeet paralyze paramount parapet
paraphrase parasol parch parchment parka parkway parsnip partition partridge
pastel pasteurize pastoral pastry patchy paternity pathway patio patriarch
patron paucity pavilion peacock pecan pedagogy pedestal pedestrian pediment
pelican pelt penalize pendant pendulum penetrate penguin peninsula penknife
pennant pensive penthouse peppy percussion perforate perimeter periscope
perjury perky permafrost permeate pernicious perpetuate perplexity personalize
pertinent perturb pesky pester petite petrify petulant petunia pewter phantom
pharmacy pheasant philosophy phoenix phony photograph pickaxe pickle picnic
picturesque pier piety pigment pigpen pigtail pilfer pilgrim pillbox
pillowcase pinafore pincer pinecone pinnacle pinpoint pinwheel pistachio
pitchfork pithy placard placemat placid plagiarize plaintive planetarium
plankton plateau platoon playground playpen plaything playwright pliable
plowshare plucky plummet plunder plush plywood poach poacher pocketbook podium
poignant poinsettia poised polity polka pollinate pollute pomegranate pompous
poncho pontoon poodle popcorn poplar poppy porcelain porcupine porous porthole
portly posh postcard poster posterity postulate posture potable potency
potluck pottery poultice poverty powerhouse precinct precipice precipitate
preclude predator predominate prelude premiere premise preoccupy prescribe
presto prettify pretzel prickly prim primrose privacy privatize privet
probability probation procession proclivity procrastinate procreate prodigy
profanity professionalize professor proficiency profundity progeny prognosis
prohibit proliferate prolific prologue promenade promulgate propagate propel
propellant propeller propensity prophecy proprietor prosecute prosperity
protein prototype protractor protrude proverb province provoke prow proximity
prudery prudish prune psalm pseudonym psyche pterodactyl puberty publicity
publisher puddle pufferfish pulley pullover pulsate pulverize pumpkin puncture
pungency puny puppy purity pushcart pushy putrefy putty pylon python quadrant
quadruple quagmire quail quality quantity quarterback quartet quasar quiche
quicken quicklime quicksand quiz quizzical quota quotient rabid racetrack
raceway racket radiate radish rafter ragtime ragweed raincoat rambunctious
ramify rampart rancher rancid randomize ransom rapport rapt raptor rarefy
rascal ratiocinate ration rationalize raucous ravenous ravioli ravish rawhide
reactor rebate rebuff rebuke recalcitrant recant receptacle recipe reciprocate
reclaim recliner reclusive recoil recommend reconsider rectangle recuperate
redden rediscover redolent redwood reedbed referee reflex reformulate
refrigerate refuge refurbish regard regenerate regiment registry regurgitate
rehearsal reiterate rejoin rejuvenate rekindle relay relegate relent relieve
relish reminisce remiss remunerate renegade renounce renovate repatriate
repent repertoire replete replicate reprimand repudiate repulse reservoir
resilient resolute resonate resound resplendent restate restrain resurrect
resuscitate retaliate reticent retina retract retrench reunite reverberate
revitalize revive rhinoceros rhubarb rickety ricochet rife rigidity ripen
risque rivalry riverbank riverbed roadblock roadhouse roadway robin
rollercoaster rooftop rosebud rosemary roster rostrum rosy rotund rotunda
roughen roulette roundabout rowboat rowdy royalty rucksack ruddy rudimentary
rueful ruffian rugged ruminate runic runway rye saber sable sadden saddlebag
sagebrush sailboat salamander salary salinity salivate sallow salsa salute
sanctify sanctity sandal sandbar sandpaper sandstone sanitize sanity sapphire
sardonic sassy satellite saturate savagery savvy sawdust sawhorse sawmill
saxophone scabbard scallop scamper scanty scarcity scarecrow scarf scavenge
schooner scimitar scoreboard scorpion scrapbook scrawny scruffy scrutinize
scurry seabird seamless seashell seashore secrecy sedate seedling seedy
segregate semicircle senate senility seniority sentry sequel sequoia serenade
serendipitous serenity serum severity shabby shamrock shantytown sharpen
shimmy shipyard shoal shoddy shoehorn shoelace shorten shotgun showcase shrewd
shrill shrivel shuttle sicken sideboard sidecar sidestep sidewalk
signpost silhouette silo similarity simplicity sincerity siphon sitar
skateboard skid skimpy skylark skylight skyline skyscraper slacken slather
sleazy sledge sleigh slick slingshot slither slog sluggish slur sly smokestack
smolder smother smug snapdragon snicker snide snowdrift snowflake snowplow
snowshoe snub sobriety socialize soften soggy sojourn solarium solidarity
solvency solvent somber sombrero sonata sonnet soot souvenir sovereignty spa
spaghetti sparsity spatula spearhead spearmint specimen spectacle spectrum
sphinx spigot spinach spindle spontaneity spool sprocket spry spurious
spyglass squander squash squeamish squirm stability stagecoach stagger
stagnate staid staircase stairway stairwell stallion stalwart stampede
stanchion standardize starboard starfish statute steamboat steamship steeple
stencil stepladder sterility sterilize stiffen stifle stigmatize stitch
stockpile stocky stodgy stoic stomach stopwatch storefront storyteller
stovepipe stowaway straighten strangle strategize streetcar strenuous
stretcher strew strident stringent strudel stubby stud stuffy stultify stupefy
stupidity stylist suave subcontinent subdue subjugate sublimate sublime
submarine subside subsidize subsidy subtlety succinct succulent suffocate
suitcase sultry sumptuous sunbeam sundial sundry sunflower sunrise sunset
sunshine superhighway supple supremacy surety surfboard surly surmise surmount
svelte swab swanky swordfish sycamore symmetry symphony synagogue synchronize
synergy synthesize syringe tabernacle tablecloth tabulate tacit tactful
tactile tadpole taffeta tailgate tambourine tamper tandem tangerine tangy
tantalize tapestry tapioca tarantula tardy tarpaulin tattoo tawdry tawny
teaspoon technology telegram telegraph telemetry teller tempest tempo
tenacious tenacity tentacle tenuous tepee terrarium terrier terse testimony
textbook thatch theater theocracy therapy thermometer thermos thimble thistle
thoroughfare threshold thrifty throttle thumbtack thunderstorm tiara tighten
tightrope timberline timely timidity tinker tollbooth tollgate tong toolbox
topaz torchlight tornado torpid torrent tote toucan tourniquet towel township
trample trampoline tranquility transcend translucent transpire trapdoor
trapezoid traumatize traverse trawler treacherous treachery treadmill treetop
trellis tremulous tributary trickery tricycle trilogy trinity trinket tripod
trite trod trove trowel truce truculent truncate tugboat tundra turbulent
turgid turnpike turnstile turntable turquoise tuxedo twister typhoon typify
tyranny ubiquitous ukulele unbutton uncouth uncover undercurrent undergo
undergrowth underscore understand undulate unduly unicorn unicycle unity
unkempt unruly unsettle untangle unwieldy unwind upbeat upholstery uplift
uppity urgency usurp utensil utility vacancy vacate vaccinate vagary
vagrant valency valise vandalize vanguard vanity vanquish vantage vapid
vaporize variety vassal vat veal vegetate vehement vellum velocity venerate
ventilate veracity veranda verbose verbosity verdict verity versatile vertebra
vestibule vex vicarious viceroy vicinity viewpoint vigil villain villainy
vindicate viola violoncello vireo virginity virility virtuosity viscosity
visor vitality vivacious vivacity vivify vixen vocalize volleyball voltage
voracious vulgarity vulture wag wagtail walkway wallboard wallet wallow walnut
waltz wanton warbler warden warehouse warthog washboard washtub watchdog
watchtower waterfront waterway wavelength wayward weaken weathervane weevil
wellspring wheelbarrow whimsical whippoorwill whirlpool whirlwind whiten whiz
wholesaler wholesome widen wigwam wildcat willful wily windlass windmill
windpipe windshield wingspan wingtip wiretap wishbone wisteria wistful woeful
woodland woodpecker woodpile woodshed workbench workbook workshop wormhole
worsen wrench wriggle wristband wry yardstick yearbook yoga yogurt zany zap
zeppelin zesty zinnia zipline zoology zucchini
""".split())


def krovetz_lite(word: str) -> str:
    """KStem-style dictionary-first inflectional stemmer.

    Full Krovetz '93 multi-step shape: whole-word lexicon check, then
    plural -> past tense -> progressive, each step testing candidate
    stems against KSTEM_LEXICON (the '+e' candidate FIRST for -ed/-ing,
    exactly the "strip d, then strip e" probe order of Lucene's
    KStemmer) before the spelling heuristics (doubling undo, CVC
    e-restore) decide for out-of-lexicon words. Used identically at
    index and query time so conflation is self-consistent. Remaining
    divergences from dictionary-exact KStem are lexicon-DISAMBIGUATION
    cases (axes->axis|axe) pinned in tests/test_kstem_golden.py.
    """
    w = word
    hit = KSTEM_EXCEPTIONS.get(w)
    if hit is not None:  # direct conflations beat the length guard (men)
        return hit
    n = len(w)
    if n <= 3 or not w.isalpha():
        return w
    if w in KSTEM_LEXICON:
        return w
    # plurals
    if w.endswith("ies") and n > 4:
        cand = w[:-3] + "y"
        if cand in KSTEM_LEXICON:
            return cand
        if w[:-1] in KSTEM_LEXICON:  # movies -> movie
            return w[:-1]
        return cand
    if w.endswith("sses"):
        if w[:-2] in KSTEM_LEXICON:  # classes -> class
            return w[:-2]
        if w[:-1] in KSTEM_LEXICON:  # finesses -> finesse
            return w[:-1]
        return w[:-2]
    # KStem's plural guard is "-ss" and "-ous" ONLY (adjectives like
    # famous); "-us" nouns (virus, census, status, bureau's plural ...)
    # are identity via the DICTIONARY, not a spelling rule — a blanket
    # -us rule wrongly froze out-of-step plurals like bureaus/menus
    # (round-4 pinned divergences, resolved round 5).
    if w.endswith("ss") or w.endswith("ous"):
        return w
    if w.endswith("es") and n >= 4:
        s1, s2 = w[:-1], w[:-2]
        if s1 in KSTEM_LEXICON:  # houses -> house
            return s1
        if s2 in KSTEM_LEXICON:  # boxes -> box, goes -> go
            return s2
        if n > 4:
            if s2.endswith(("x", "ch", "sh", "z", "s")):
                return s2
            return s1
        return s1
    if w.endswith("s"):
        return w[:-1]
    # past tense
    if w.endswith("ied") and n > 4:
        return w[:-3] + "y"
    if w.endswith("ed") and n > 4:
        stem = w[:-2]
        if w[:-1] in KSTEM_LEXICON:  # noted -> note (strip 'd' only)
            return w[:-1]
        if stem in KSTEM_LEXICON:  # visited -> visit
            return stem
        if len(stem) >= 3 and stem[-1] == stem[-2]:
            if stem[:-1] in KSTEM_LEXICON:  # stopped -> stop, controlled -> control
                return stem[:-1]
            if stem[-1] not in "lszaeiou":
                return stem[:-1]
        return stem + "e" if _wants_e(stem) else stem
    # progressive
    if w.endswith("ing") and n > 5:
        stem = w[:-3]
        if stem + "e" in KSTEM_LEXICON:  # making -> make, caring -> care
            return stem + "e"
        if stem in KSTEM_LEXICON:  # visiting -> visit
            return stem
        if len(stem) >= 3 and stem[-1] == stem[-2]:
            if stem[:-1] in KSTEM_LEXICON:  # running -> run
                return stem[:-1]
            if stem[-1] not in "lszaeiou":
                return stem[:-1]
        return stem + "e" if _wants_e(stem) else stem
    return w


def _wants_e(stem: str) -> bool:
    """Heuristic: restore trailing 'e' (merg -> merge, scor -> score)."""
    if len(stem) < 3:
        return False
    c, v, a = stem[-1], stem[-2], stem[-3]
    if c in "aeiouwxy":
        return False
    # TRUE CVC pattern (scor -> score but read -> read, look -> look:
    # a vowel digraph before the final consonant takes no 'e'), or
    # e-taking finals after a consonant cluster (merg -> merge,
    # danc -> dance, serv -> serve)
    return (v in "aeiou" and a not in "aeiou") or c in "cgvz"


# per-(stop, stem) token -> normalized-form caches. The corpus token
# stream is Zipf-distributed, so after warmup virtually every lookup
# hits (a dict get is ~25x cheaper than re-running krovetz_lite —
# measured 0.21s -> 0.03s per 4000 sf0.1 docs in the build kernel).
# Bounded: past _TOKEN_CACHE_MAX entries new tokens are computed but
# not inserted, so a pathological unbounded vocabulary cannot grow
# executor memory (the Zipf head that matters is cached first anyway).
_TOKEN_CACHE: dict[tuple[bool, bool], dict[str, str]] = {}
_TOKEN_CACHE_MAX = 2_000_000


@dataclass(frozen=True)
class Analyzer:
    """Tokenization config; ``tokens()`` keeps stopword slots as ''."""

    name: str
    stop: bool = False
    stem: bool = False

    def tokens(self, text: str) -> list[str]:
        """Full position-preserving token stream ('' = removed stopword)."""
        if text is None:
            return []
        out = TOKEN_RE.findall(text.lower())
        if self.stop or self.stem:
            cache = _TOKEN_CACHE.setdefault((self.stop, self.stem), {})
            get = cache.get
            for i, t in enumerate(out):
                r = get(t)
                if r is None:
                    if self.stop and t in LUCENE_STOPWORDS:
                        r = ""
                    elif self.stem:
                        r = krovetz_lite(t)
                    else:
                        r = t
                    if len(cache) < _TOKEN_CACHE_MAX:
                        cache[t] = r
                out[i] = r
        return out

    def terms(self, text: str) -> list[str]:
        """Query-side tokenization: stopword slots dropped."""
        return [t for t in self.tokens(text) if t]


ANALYZERS: dict[str, Analyzer] = {
    "simple": Analyzer("simple", stop=False, stem=False),
    "english": Analyzer("english", stop=True, stem=True),
    "english_nostem": Analyzer("english_nostem", stop=True, stem=False),
}


def get_analyzer(name: str) -> Analyzer:
    try:
        return ANALYZERS[name]
    except KeyError:
        raise ValueError(f"unknown analyzer {name!r}; have {sorted(ANALYZERS)}")


def analyzer_version(name: str) -> str:
    """Stable fingerprint of an analyzer's behavior-defining tables.

    Persisted in the index manifest so a query session can detect that
    the stemmer/stopword rules changed since the index was written —
    index-time and query-time tokenization MUST agree or term lookups
    silently miss. The hash covers the token regex, the stop set, the
    stemmer rule tables (exception dict) and a rule-code revision tag
    that must be bumped whenever krovetz_lite/_wants_e logic changes.
    """
    import hashlib

    an = get_analyzer(name)
    h = hashlib.md5()
    h.update(b"rules-v4")  # bump on any krovetz_lite/_wants_e code change
    h.update(TOKEN_RE.pattern.encode())
    h.update(repr((an.stop, an.stem)).encode())
    if an.stop:
        h.update(",".join(sorted(LUCENE_STOPWORDS)).encode())
    if an.stem:
        for k in sorted(KSTEM_EXCEPTIONS):
            h.update(f"{k}>{KSTEM_EXCEPTIONS[k]};".encode())
        h.update(",".join(sorted(KSTEM_LEXICON)).encode())
    return h.hexdigest()[:16]


def tokenize_udf(analyzer: str | Analyzer):
    """Arrow-batched pandas UDF: string column -> array<string> token slots.

    Stopword slots come back as '' so positions survive the JVM-side
    ``posexplode``; downstream filters ``token != ''`` before building
    postings. Field length = size(array) — includes stopword positions,
    matching the reference (Idx.java:97).
    """
    an = get_analyzer(analyzer) if isinstance(analyzer, str) else analyzer

    @F.pandas_udf(ArrayType(StringType()))
    def _tok(texts: pd.Series) -> pd.Series:
        return texts.map(an.tokens)

    return _tok
